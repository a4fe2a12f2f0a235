"""Seeded input generators for the benchmark.

Every function here is a pure function of its arguments: the same seed
and sizes give byte-identical files. Nothing is read from outside the
output directory it is handed.

- ``analytics_tables``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that ``SparkEntry.queries`` reads,
  one parquet file per table, with the column names and physical types
  of the engine's test tables.
- ``etl_batch_inputs``: multi-file CSV for the two batch pipelines,
  plus the expected counts and id checksums the harness checks against.
- ``etl_stream_inputs``: small CSV files for the directory-watch stream,
  one per scheduled arrival, plus the expected committed rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    return out


def analytics_tables(out, sf, seed=42):
    """Write the ten analytics tables at scale ``sf`` (0.1 ~ 600k
    lineitem rows) under ``out``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), max(500, int(20000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        f"{out}/supplier.parquet")
    adj = np.array("red small hot old large blue green tiny".split())
    noun = np.array("plate widget ring rod bolt gizmo gear pipe".split())
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")}),
        f"{out}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(t0, t0 + span, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    # documents: random-vocabulary texts; 5% are an earlier document with
    # one token appended (near duplicates) so the dedup kernels find pairs
    text = _texts(rng, n_doc, 10, 100)
    near = rng.random(n_doc) < 0.05
    src = rng.integers(0, n_doc, n_doc)
    for i in np.nonzero(near)[0]:
        if src[i] < i:
            text[i] = text[src[i]] + " dup"
    langs = np.array(["en", "en", "zh", "es", "fr", "de", "en"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": text,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}),
        f"{out}/documents.parquet")
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


STATUSES = np.array(["important", "normal", "low", "not important",
                     "important-high", "archived"])


def etl_batch_inputs(out, seed, rows, files):
    """CSV inputs for the csv-to-parquet and quality-dead-letter
    pipelines; returns the expected result summary."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(f"{out}/input")
    os.makedirs(f"{out}/docs")
    ids = np.arange(rows, dtype=np.int64)
    status = STATUSES[rng.integers(0, len(STATUSES), rows)]
    keep = np.char.find(status, "important") >= 0
    orders = {
        "id": ids,
        "status": status,
        "amount": np.round(rng.uniform(0, 10000, rows), 2),
        "region": np.array(["north", "south", "east", "west"])[rng.integers(0, 4, rows)],
        "note": np.char.add("n", rng.integers(0, 10**9, rows).astype(str)),
    }
    drows = rows // 2
    seq = np.arange(drows, dtype=np.int64)
    n_tok = rng.integers(0, 160, drows)
    has_id = rng.random(drows) >= 0.02
    clean = has_id & (n_tok >= 20)
    toks = _texts(rng, 64, 3, 12)
    docs = {
        "seq": seq,
        "doc_id": pa.array(np.where(has_id, seq + 10**9, 0), mask=~has_id),
        "text": np.array(toks)[rng.integers(0, 64, drows)],
        "n_tokens": n_tok,
    }
    _split_csv(orders, rows, files, f"{out}/input", "part")
    _split_csv(docs, drows, files, f"{out}/docs", "docs")
    return {
        "csv_rows": int(rows), "doc_rows": int(drows),
        "kept": int(keep.sum()), "kept_id_sum": int(ids[keep].sum()),
        "clean": int(clean.sum()), "clean_seq_sum": int(seq[clean].sum()),
        "rejects": int((~clean).sum()),
        "reject_seq_sum": int(seq[~clean].sum()),
    }


def _split_csv(cols, n, files, d, stem):
    bounds = np.linspace(0, n, files + 1).astype(int)
    opts = pacsv.WriteOptions(include_header=True)
    for f in range(files):
        a, b = bounds[f], bounds[f + 1]
        t = pa.table({k: (v[a:b] if not isinstance(v, pa.Array) else v.slice(a, b - a))
                      for k, v in cols.items()})
        pacsv.write_csv(t, f"{d}/{stem}-{f:03d}.csv", opts)


WARM_ID_MIN = 10**12


def etl_stream_inputs(out, seed, files, rows_per_file, period_ms, warmup):
    """One CSV per scheduled arrival under ``out/src``; file i is due at
    ``i * period_ms`` after the schedule starts and every row carries
    that offset in its payload. The first ``warmup`` files warm the
    stream up and are not measured. ``out/warm.csv`` is the file each
    stream start commits first. Returns the expected committed rows."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{out}/src")
    kept, kept_sum, kept_measured = 0, 0, 0
    opts = pacsv.WriteOptions(include_header=True)
    warm = np.arange(WARM_ID_MIN, WARM_ID_MIN + rows_per_file, dtype=np.int64)
    pacsv.write_csv(pa.table({
        "id": warm, "status": np.full(rows_per_file, "ok"),
        "payload": np.full(rows_per_file, "warm")}), f"{out}/warm.csv", opts)
    for i in range(files):
        ids = np.arange(i * rows_per_file, (i + 1) * rows_per_file, dtype=np.int64)
        ok = rng.random(rows_per_file) < 0.7
        kept += int(ok.sum())
        kept_measured += int(ok.sum()) if i >= warmup else 0
        kept_sum += int(ids[ok].sum())
        t = pa.table({
            "id": ids,
            "status": np.where(ok, "ok", "bad"),
            "payload": np.full(rows_per_file, f"{i}:{i * period_ms}")})
        pacsv.write_csv(t, f"{out}/src/f{i:06d}.csv", opts)
    return {"files": files, "warmup_files": warmup, "rows_per_file": rows_per_file,
            "period_ms": period_ms, "kept": kept, "kept_id_sum": kept_sum,
            "kept_measured": kept_measured,
            "warm_kept": rows_per_file, "warm_id_sum": int(warm.sum()),
            "warm_id_min": WARM_ID_MIN}
