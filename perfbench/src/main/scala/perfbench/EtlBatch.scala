package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, size, sum}
import graft.pipeline.{ConfigParser, PipelineManager, PipelineSpec, TransformSpec}
import scala.concurrent.Await
import scala.concurrent.duration._

/** `etl_batch`: closed loop, one submitter. Each iteration parses the
  * YAML below (the shapes of the shipped csv_to_parquet and
  * quality_dead_letter examples) and runs both pipelines through
  * `PipelineManager.submit` into fresh output directories.
  */
object EtlBatch {
  private def yaml(in: Path, docs: Path, out: Path): String =
    s"""pipelines:
       |  - name: "csv-to-parquet"
       |    source:
       |      type: file
       |      properties:
       |        path: "$in"
       |        pattern: "*.csv"
       |        format: csv
       |        header: "true"
       |    transformations:
       |      - type: filter
       |        properties:
       |          column: "status"
       |          condition: "important"
       |      - type: map
       |        properties:
       |          columnMapping:
       |            id: record_id
       |    sink:
       |      type: file
       |      properties:
       |        path: "$out/parquet"
       |        format: "parquet"
       |  - name: "quality-dead-letter"
       |    source:
       |      type: file
       |      properties:
       |        path: "$docs"
       |        pattern: "*.csv"
       |        format: csv
       |        header: "true"
       |    transformations:
       |      - type: quality
       |        properties:
       |          onViolation: route
       |          deadLetterPath: "$out/rejects"
       |          runId: "bench"
       |          rules:
       |            - kind: not_null
       |              column: doc_id
       |            - kind: non_empty
       |              column: text
       |            - kind: bounds
       |              column: n_tokens
       |              lo: "20"
       |              hi: "100000"
       |    sink:
       |      type: file
       |      properties:
       |        path: "$out/clean"
       |        format: "parquet"
       |""".stripMargin

  /** One iteration's timings (seconds), output size and output dir. */
  final case class Iter(total: Double, parse: Double, perPipeline: Seq[Double],
      outBytes: Long, outFiles: Int, out: Path, status: Seq[(String, String)])

  final class Runner(spark: SparkSession, ctx: Ctx, exp: Map[String, Long], res: Result) {
    private val mgr = new PipelineManager(spark)
    private val in = ctx.data.resolve("input")
    private val docs = ctx.data.resolve("docs")
    private var n = 0

    def config(out: Path): Seq[PipelineSpec] =
      ConfigParser.parse(yaml(in, docs, out)).pipelines

    /** Parse and run both pipelines into fresh output directories; the
      * tracer, if given, listens to the timed part only. The outputs
      * stay on disk until [[check]].
      */
    def iteration(tracer: Option[SchedulerTrace] = None): Iter = {
      n += 1
      val out = ctx.work.resolve(s"etl_out/${System.identityHashCode(this)}-$n")
      tracer.foreach(spark.sparkContext.addSparkListener)
      val t0 = Util.now()
      val (specs, parse) = Util.timed(config(out))
      val per = specs.map { p =>
        val (_, dt) = Util.timed(mgr.submit(p))
        dt
      }
      val total = Util.now() - t0
      tracer.foreach(_.detach(spark.sparkContext))
      graft.GraftSession.release(spark)
      val (bytes, files) = Seq("parquet", "clean", "rejects")
        .map(d => Util.dataFiles(out.resolve(d)))
        .foldLeft((0L, 0)) { case ((b, f), (b2, f2)) => (b + b2, f + f2) }
      val status = specs.map(p => p.name -> mgr.status(p.name).getOrElse("missing"))
      Iter(total, parse, per, bytes, files, out, status)
    }

    /** Check an iteration's outputs against the generator's expectations
      * (one operation per pipeline run), then delete them.
      */
    def check(it: Iter): Unit = {
      it.status.foreach { case (name, st) => check(name, st, it.out) }
      Util.deleteTree(it.out)
    }

    private def check(name: String, status: String, out: Path): Unit = {
      if (status != "COMPLETED") { res.op(false, s"$name: $status"); return }
      val ok = name match {
        case "csv-to-parquet" =>
          val df = spark.read.parquet(out.resolve("parquet").toString)
          val r = df.agg(count(lit(1)), sum(col("record_id").cast("long"))).head()
          !df.columns.contains("id") &&
            r.getLong(0) == exp("kept") && r.getLong(1) == exp("kept_id_sum")
        case _ =>
          val clean = spark.read.parquet(out.resolve("clean").toString)
            .agg(count(lit(1)), sum(col("seq").cast("long"))).head()
          val rej = spark.read.parquet(out.resolve("rejects").toString)
            .agg(count(lit(1)), sum(col("seq").cast("long")),
              sum((size(col("violated_rules")) === 0).cast("long"))).head()
          clean.getLong(0) == exp("clean") && clean.getLong(1) == exp("clean_seq_sum") &&
            rej.getLong(0) == exp("rejects") && rej.getLong(1) == exp("reject_seq_sum") &&
            rej.getLong(2) == 0L
      }
      res.op(ok, s"$name: output does not match the generated input")
    }

    /** Layer probes for one traced iteration: each pipeline's source
      * drained to `noop`, then source + transforms drained to `noop`
      * with a row counter after every stage. Returns (scan seconds,
      * source + transform seconds, stage pass fractions) per pipeline.
      */
    def probe(): Seq[(Double, Double, Seq[(String, Double)])] = {
      val out = ctx.work.resolve(s"etl_probe")
      val res = config(out).map { p =>
        val (_, scan) = Util.timed(noop(graft.sources.Sources.read(spark, p.source)))
        val obs = (0 to p.transformations.size).map(_ => Observation())
        val stages = p.transformations.map(probeSpec(_, out))
        val (_, upTo) = Util.timed {
          val src = graft.sources.Sources.read(spark, p.source)
            .observe(obs(0), count(lit(1)).as("n"))
          noop(stages.zipWithIndex.foldLeft(src) { case (df, (t, i)) =>
            graft.operators.Transforms.applyOne(df, t).observe(obs(i + 1), count(lit(1)).as("n"))
          })
        }
        val counts = obs.map(o => Await.result(o.future, 60.seconds).getLong(0).toDouble)
        val frac = stages.zipWithIndex.map { case (t, i) =>
          s"${p.name}.${t.kind}" -> (if (counts(i) > 0) counts(i + 1) / counts(i) else 0.0)
        }
        (scan, upTo, frac)
      }
      graft.GraftSession.release(spark)
      Util.deleteTree(out)
      res
    }

    private def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    /** The probe's dead-letter output goes to its own directory. */
    private def probeSpec(t: TransformSpec, out: Path): TransformSpec =
      if (t.properties.contains("deadLetterPath"))
        t.copy(properties = t.properties + ("deadLetterPath" -> out.resolve("dlq").toString))
      else t
  }

  /** The measured batch loop for `seconds`, on the set-up's session and
    * runner: end-to-end throughput and iteration time, and with tracing
    * on, the layer probes and scheduler totals of every other iteration.
    */
  def measure(spark: SparkSession, runner: Runner, ctx: Ctx, exp: Map[String, Long],
      res: Result, seconds: Double): Unit = {
    // an untimed iteration lets the JIT settle before the measured loop
    runner.check(runner.iteration())
    val tracer = new SchedulerTrace("etl")
    val plain = collection.mutable.ArrayBuffer.empty[Iter]
    val traced = collection.mutable.ArrayBuffer.empty[Iter]
    val probes = collection.mutable.ArrayBuffer.empty[Seq[(Double, Double, Seq[(String, Double)])]]
    val end = Util.now() + seconds
    var k = 0
    while (Util.now() < end || plain.size < 3) {
      // traced runs alternate iterations with the listener attached and
      // detached, so the tracing overhead is the difference of the two
      if (ctx.trace && k % 2 == 1) {
        probes += runner.probe()
        traced += runner.iteration(Some(tracer))
      } else plain += runner.iteration()
      k += 1
      Util.note(f"iteration $k: ${(plain ++ traced).last.total}%.3f s")
    }
    // outputs are checked after the measured loop, so iterations run
    // back to back
    (plain ++ traced).foreach(runner.check)
    val iters = plain.map(_.total).toSeq
    res.e2e("rows_per_s") = (exp("csv_rows") + exp("doc_rows")) / Stats.median(iters)
    res.e2e("pass_s") = Stats.median(iters)

    if (ctx.trace) {
      val all = (plain ++ traced).toSeq
      val l = res.layers
      l("pipeline.parse_ms") = Stats.median(all.map(_.parse)) * 1e3
      val scan = probes.map(_.map(_._1).sum).toSeq
      val upTo = probes.map(_.map(_._2).sum).toSeq
      l("sources.scan_s") = Stats.median(scan)
      l("operators.transform_s") = Stats.median(upTo) - Stats.median(scan)
      l("sinks.write_s") = Stats.median(all.map(_.perPipeline.sum)) - Stats.median(upTo)
      probes.head.flatMap(_._3).map(_._1).foreach { st =>
        l(s"operators.pass_frac.$st") = Stats.median(probes.map(_.flatMap(_._3).toMap.apply(st)).toSeq)
      }
      val inBytes = Util.treeBytes(ctx.data.resolve("input")) + Util.treeBytes(ctx.data.resolve("docs"))
      val outRows = exp("kept") + exp("doc_rows")
      l("sinks.files") = Stats.median(all.map(_.outFiles.toDouble))
      l("sinks.bytes_per_row") = Stats.median(all.map(_.outBytes.toDouble)) / outRows
      l("sinks.out_bytes_per_in_byte") = Stats.median(all.map(_.outBytes.toDouble)) / inBytes
      l ++= tracer.metrics(traced.size.toDouble)
      l("trace.overhead_ms") =
        (Stats.median(traced.map(_.total).toSeq) - Stats.median(iters)) * 1e3
    }
  }

  /** Median iteration seconds on a `local[1]` session: the
    * single-thread baseline.
    */
  def baseline(ctx: Ctx, exp: Map[String, Long], res: Result): Double = {
    val one = Util.session(ctx, 1)
    val base = new Runner(one, ctx, exp, res)
    try Stats.median((1 to 3).map { _ =>
      val it = base.iteration(); base.check(it); it.total }.tail)
    finally one.stop()
  }
}

/** The generator's expected-result summary: one flat JSON object of
  * integers.
  */
object Expected {
  def load(p: Path): Map[String, Long] = {
    val s = new String(Files.readAllBytes(p), "UTF-8")
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
