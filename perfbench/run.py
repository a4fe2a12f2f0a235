#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads, checked outputs.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (Spark at local[nproc], load from this one process):
  etl            the reference's own YAML pipelines, in batch and then in
                 streaming, each for half of --seconds.
                 Batch, closed loop: parse a YAML with the csv_to_parquet
                 and quality_dead_letter shapes and run both pipelines
                 through PipelineManager.submit over seeded multi-file CSV.
                 Streaming, open loop: a generator thread renames CSV files
                 into the watched directory of the streaming_directory_watch
                 shape at a fixed rate; the stream runs through
                 PipelineRunner.runStream.
  analytics_mix  closed loop: passes over one query per family of planned
                 optimisations from SparkEntry.queries, order shuffled by
                 the seed, every result collected in full.

End-to-end metrics (--trace 0), for both workloads:
  setup_s      median of three set-ups in the run, each a new session
               plus the first unit of work (etl: first batch iteration
               and stream start to first commit; analytics_mix: the warm
               pass with the memoised models and artifacts dropped)
  rows_per_s   etl: batch input rows / median iteration;
               analytics_mix: rows of the tables the mix reads / median pass
  lat_p50_ms,  etl: per streamed file, from its scheduled arrival to the
  lat_p99_ms   sink commit that made its rows visible; analytics_mix: per
               query (build + collect). The host line gives the sample count.
  pass_s       etl: median batch iteration; analytics_mix: median pass

--trace 1 runs the same loops with every other iteration (pass, or
schedule chunk) traced: Spark listeners attached, layer probes run. It
prints the per-layer metrics named in BENCHMARK.json; a layer a workload
does not exercise reads 0. trace.overhead_ms (trace.stream_overhead_ms)
is the traced minus the untraced iteration or pass (file latency) within
the same run.

The program is built from the checkout's sources with sbt (perfbench/
build.sbt) on first use. Everything a run writes goes under .perfbench/
in the checkout. The line before the result is a host record (loadavg,
CPU steal during the run, a fixed loop timed before and after it, nproc,
-Xmx, latency sample count, failed fraction) so that a contended run
identifies itself. The last line is
the result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

XMX = "3g"
ANALYTICS_SF = 0.01
BATCH_ROWS, BATCH_FILES = 240_000, 8
STREAM_RATE, STREAM_ROWS = 50, 200  # files per second, rows per file
STREAM_WARMUP_S = 3  # unmeasured schedule ahead of the measured one
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error:", msg)
    sys.exit(code)


def sources_digest(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{root}/src/main/**/*", recursive=True) +
                   glob.glob(f"{BENCH}/src/**/*", recursive=True) +
                   [f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile the engine and the harness unless the sources are
    unchanged since the last build in this checkout."""
    stamp = f"{BENCH}/target/perfbench.stamp"
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0:
        fail("build failed", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")


def cached(path, make):
    """Generate a read-only input directory once per checkout."""
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
    return path


def spark_jars():
    """The Spark distribution's jars, which the engine builds and runs
    against (as the repository's own build.sbt does)."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution")
    return os.path.join(home, "jars")


def calib_ms():
    """Milliseconds for a fixed single-threaded loop: a host that runs it
    slowly before or after a run was contended during it."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x ^= i * 2654435761 & 0xFFFFFFFF
    return round((time.perf_counter() - t0) * 1e3, 1)


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def table_hash(df):
    """Order-insensitive fingerprint of a result table: columns sorted by
    name, rows sorted, floats by their exact bits."""
    import pandas as pd
    df = canon(df)
    h = hashlib.sha256(repr((list(df.columns), len(df))).encode())
    for c in df.columns:
        a = df[c].to_numpy()
        if a.dtype.kind == "f":
            h.update(b"f" + a.astype("float64").tobytes())
        else:
            kind = b"i" if a.dtype.kind in "iu" else b"o"
            h.update(kind + "\x00".join(pd.Series(a).astype(str)).encode())
    return h.hexdigest()


def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same_table(got, want):
    """The oracle comparison: same columns, rows, and values (floats
    bit-exact, integers never matched against floats)."""
    import numpy as np
    import pandas as pd
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if (a.dtype.kind in "iu") != (b.dtype.kind in "iu") and \
                a.dtype.kind in "iuf" and b.dtype.kind in "iuf":
            return False
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if not np.array_equal(a.astype("float64"), b.astype("float64"), equal_nan=True):
                return False
        elif not (pd.Series(a).astype(str) == pd.Series(b).astype(str)).all():
            return False
    return True


def read_result(d):
    import pandas as pd
    return pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{d}/*.parquet"))])


def check_analytics(results, data, pins, live):
    """Check each warm-pass result: against the DuckDB oracle for the
    queries in `live`, against the pinned fingerprint for the rest.
    Returns (attempted, failed, reasons)."""
    import duckdb
    oracle = json.load(open(f"{results}/oracle_sql.json"))
    con = duckdb.connect()
    for t in glob.glob(f"{data}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    attempted, failed, why = 0, 0, []
    for q in sorted(oracle):
        attempted += 1
        try:
            got = read_result(f"{results}/{q}")
            if q in live:
                ok = same_table(got, con.execute(oracle[q]).df())
            else:
                ok = table_hash(got) == pins.get(q)
            if not ok:
                why.append(f"{q}: result does not match the {'oracle' if q in live else 'pin'}")
        except Exception as e:  # a missing or unreadable result is a failure
            ok = False
            why.append(f"{q}: {e}")
        failed += not ok
    return attempted, failed, why


def prepare(workload, seed, seconds, state, work):
    """Write the run's inputs; returns the data dir the JVM reads. The
    analytics tables do not depend on the seed and are made once per
    checkout; the ETL inputs are made per run under `work`."""
    import gen
    if workload == "analytics_mix":
        os.makedirs(os.path.join(state, "data"), exist_ok=True)
        return cached(f"{state}/data/analytics-sf{ANALYTICS_SF}",
                      lambda d: gen.analytics_tables(d, ANALYTICS_SF))
    batch = os.path.join(work, "etl_in")
    write_json(f"{batch}/expected.json",
               gen.etl_batch_inputs(batch, seed, BATCH_ROWS, BATCH_FILES))
    stream = os.path.join(work, "stream_in")
    warmup = STREAM_WARMUP_S * STREAM_RATE
    files = warmup + max(1, int(round(seconds / 2 * STREAM_RATE)))
    write_json(f"{stream}/expected.json", gen.etl_stream_inputs(
        stream, seed, files, STREAM_ROWS, 1000 // STREAM_RATE, warmup))
    return batch


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(f"{root}/src/main/scala/graft"):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    spec = json.load(open(f"{root}/BENCHMARK.json"))
    state = os.path.join(root, ".perfbench")
    build(root, state)

    work = os.path.join(state, "runs", f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        data = prepare(a.workload, a.seed, a.seconds, state, work)
        cores = len(os.sched_getaffinity(0))
        cp = f"{BENCH}/target/scala-2.13/classes:{spark_jars()}/*"
        cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", cp, "perfbench.Main", a.workload, work, data, str(a.seconds),
                str(a.trace), str(a.seed), str(cores)])
        calib0 = calib_ms()
        total0, steal0 = cpu_times()
        t0 = time.time()
        # run isolation: no durable artifact store, so set-up pays builds
        env = {k: v for k, v in os.environ.items() if k != "GRAFT_INDEX_DIR"}
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM timed out", 4)
        if rc != 0:
            fail(f"benchmark JVM exited with {rc}", 5)
        total1, steal1 = cpu_times()
        calib1 = calib_ms()
        res = json.load(open(f"{work}/result.json"))
        attempted, failed, why = res["attempted"], res["failed"], res["checks"]
        if a.workload == "analytics_mix":
            pins = json.load(open(f"{BENCH}/pins.json"))
            n, f, w = check_analytics(f"{work}/results", data, pins["pinned"],
                                      set(pins["live_oracle"]))
            attempted, failed, why = attempted + n, failed + f, why + w
        for w in why:
            log("check failed:", w)

        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = res["layers"] if a.trace else res["e2e"]
        metrics = {}
        for m in wanted:
            v = got.get(m["name"])
            if v is None and not a.trace:
                fail(f"metric {m['name']} was not measured", 6)
            metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
        with open("/proc/loadavg") as fh:
            load = [float(x) for x in fh.read().split()[:3]]
        host = {"host": {"loadavg": load, "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
                         "nproc": cores, "xmx": XMX, "run_s": round(time.time() - t0, 2),
                         "lat_samples": res["samples"], "calib_ms": [calib0, calib1],
                         "failed_frac": failed / max(1, attempted)}}
        print(json.dumps(host))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
