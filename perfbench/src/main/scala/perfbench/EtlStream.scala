package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, countDistinct, input_file_name, lit, substring_index, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.{ConfigParser, PipelineRunner}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The streaming half of `etl`: open loop. A generator thread
  * atomically renames pre-written CSV files into the watched directory of
  * the streaming_directory_watch shape on a fixed schedule, and the
  * stream runs through `PipelineRunner.runStream`. Every row carries its
  * file's index and scheduled offset, so each file's latency (schedule
  * to the sink commit that made its rows visible) is read back from the
  * committed output and the sink's commit log.
  */
object EtlStream {
  private def yaml(in: Path, out: Path, ckpt: Path): String =
    s"""pipelines:
       |  - name: "directory-watch"
       |    streaming: true
       |    source:
       |      type: directory
       |      properties:
       |        path: "$in"
       |        format: csv
       |        header: "true"
       |        schemaDdl: "id LONG, status STRING, payload STRING"
       |    transformations:
       |      - type: filter
       |        properties:
       |          expression: "status = 'ok'"
       |    sink:
       |      type: file
       |      properties:
       |        path: "$out"
       |        format: "parquet"
       |        checkpointLocation: "$ckpt"
       |""".stripMargin

  /** Atomically place `src` in `dir` under `name` (copy or move). */
  private def publish(src: Path, dir: Path, name: String, move: Boolean): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    if (move) Files.move(src, tmp) else Files.copy(src, tmp)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  final case class Stream(spark: SparkSession, q: StreamingQuery, in: Path, out: Path)

  /** Stream start to the first commit of a warm-up file, in fresh
    * directories named `name`; returns the stream and the start and
    * parse seconds.
    */
  def start(spark: SparkSession, ctx: Ctx, data: Path, name: String): (Stream, Double, Double) = {
    val base = ctx.work.resolve(name)
    val in = Files.createDirectories(base.resolve("incoming"))
    publish(data.resolve("warm.csv"), in, "warm.csv", move = false)
    val t0 = Util.now()
    val (cfg, parseS) = Util.timed(ConfigParser.parse(yaml(in, base.resolve("out"), base.resolve("ckpt"))))
    val q = PipelineRunner.runStream(spark, cfg.pipelines.head)
    q.processAllAvailable()
    (Stream(spark, q, in, base.resolve("out")), Util.now() - t0, parseS)
  }

  /** Commit wall time (ms) and added data files of every batch, read
    * from the file sink's commit log (compacted entries are attributed
    * to the first batch that lists them).
    */
  private def commits(out: Path): Seq[(Long, Long, Set[String])] = {
    val log = out.resolve("_spark_metadata")
    val entries = Files.list(log).iterator().asScala.toSeq
      .map(p => (p, p.getFileName.toString.stripSuffix(".compact")))
      .filter(_._2.forall(_.isDigit)).map { case (p, b) => (b.toLong, p) }.sortBy(_._1)
    val seen = mutable.HashSet.empty[String]
    entries.map { case (b, p) =>
      val files = Files.readAllLines(p).asScala.drop(1)
        .flatMap("\"path\":\"([^\"]+)\"".r.findFirstMatchIn(_).map(_.group(1)))
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
      val added = files -- seen
      seen ++= files
      (b, Files.getLastModifiedTime(p).toMillis, added)
    }
  }

  /** A fresh stream on `spark` fed by the schedule in `data`:
    * per-file latency, committed throughput, exactly-once checks, and
    * with tracing on the micro-batch phases of every other chunk of the
    * schedule. Returns the number of latency samples.
    */
  def measure(spark: SparkSession, ctx: Ctx, data: Path, exp: Map[String, Long],
      res: Result): Int = {
    val files = exp("files").toInt
    val warmup = exp("warmup_files").toInt
    val period = exp("period_ms")
    val src = data.resolve("src")
    val (Stream(_, q, in, out), _, _) = start(spark, ctx, data, "stream")

    val tracer = new SchedulerTrace("stream")
    val progress = new ProgressTrace
    // traced runs attach the listeners for every other chunk of the
    // schedule, so the tracing overhead is the latency difference
    val chunk = math.max(1, (files - warmup) / 6)
    def traced(i: Int): Boolean = ctx.trace && i >= warmup && ((i - warmup) / chunk) % 2 == 1
    val late = new Array[Long](files)
    val origin = System.currentTimeMillis() + 100
    val gen = new Thread(() => {
      for (i <- 0 until files) {
        if (ctx.trace && i >= warmup && (i - warmup) % chunk == 0) {
          if (traced(i)) {
            spark.sparkContext.addSparkListener(tracer); spark.streams.addListener(progress)
          } else if (i > warmup) {
            // no drain here: it would hold up the schedule
            spark.sparkContext.removeSparkListener(tracer); spark.streams.removeListener(progress)
          }
        }
        val due = origin + i * period
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(src.resolve(f"f$i%06d.csv"), in, f"f$i%06d.csv", move = true)
        late(i) = System.currentTimeMillis() - due
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    if (ctx.trace) { tracer.detach(spark.sparkContext); spark.streams.removeListener(progress) }

    // read back: which batch committed each source file's rows
    val log = commits(out)
    val batchOf = log.flatMap { case (b, _, fs) => fs.map(_ -> b) }.toMap
    val commitMs = log.map { case (b, t, _) => b -> t }.toMap
    val df = spark.read.parquet(out.toString)
    val tot = df.agg(count(lit(1)), countDistinct(col("id")), sum(col("id"))).head()
    val warmRows = exp("warm_kept")
    val okOnce = tot.getLong(0) == exp("kept") + warmRows &&
      tot.getLong(1) == tot.getLong(0) && tot.getLong(2) == exp("kept_id_sum") + exp("warm_id_sum")
    val perFile = df.filter(col("id") < exp("warm_id_min"))
      .withColumn("f", substring_index(col("payload"), ":", 1).cast("int"))
      .withColumn("part", substring_index(input_file_name(), "/", -1))
      .groupBy("f", "part").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val fileBatch = perFile.groupBy(_._1).map { case (f, rs) =>
      f -> rs.map(r => batchOf.getOrElse(r._2, -1L)).max
    }
    val lat = (warmup until files).flatMap { i =>
      fileBatch.get(i).flatMap(commitMs.get).map(t => (i, (t - (origin + i * period)).toDouble))
    }
    lat.grouped(math.max(1, (files - warmup) / 5)).foreach { g =>
      Util.note(f"files ${g.head._1}%d-${g.last._1}%d: median latency ${Stats.median(g.map(_._2))}%.0f ms")
    }
    // one operation per scheduled file: its rows landed, exactly once
    (0 until files).foreach { i =>
      res.op(okOnce && fileBatch.get(i).exists(_ >= 0),
        s"stream file $i: rows missing, duplicated or not committed")
    }
    val measuredFrom = origin + warmup * period
    val measured = log.filter { case (_, t, _) => t >= measuredFrom }
    val committedRows = exp("kept_measured").toDouble
    val lastCommit = lat.map { case (i, l) => origin + i * period + l }.max
    res.e2e("lat_p50_ms") = Stats.median(lat.map(_._2))
    res.e2e("lat_p99_ms") = Stats.quantile(lat.map(_._2), 0.99)
    val gaps = measured.map(_._2).sliding(2).collect { case Seq(a, b) => (b - a).toDouble }.toSeq

    if (ctx.trace) {
      val l = res.layers
      val ev = progress.snapshot.map(_.progress)
      def d(k: String) = ev.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      def med(xs: Seq[Double]) = Stats.median(xs)
      l("streaming.list_ms") = med(d("latestOffset"))
      l("streaming.plan_ms") = med(d("queryPlanning").zip(d("getBatch")).map(x => x._1 + x._2))
      l("streaming.exec_ms") = med(d("addBatch"))
      l("streaming.commit_ms") = med(d("walCommit").zip(d("commitOffsets")).map(x => x._1 + x._2))
      l("streaming.trigger_ms") = med(d("triggerExecution"))
      val trig = ev.map(p => p.batchId -> p.durationMs.get("triggerExecution").toDouble).toMap
      l("streaming.queue_ms") = med(lat.flatMap { case (i, v) =>
        fileBatch.get(i).flatMap(trig.get).map(v - _) })
      l("streaming.batches") = measured.size.toDouble
      l("streaming.commit_gap_ms") = Stats.median(gaps)
      l("streaming.rows_per_s") = committedRows / ((lastCommit - measuredFrom) / 1e3)
      l("streaming.rows_per_batch") = committedRows / measured.size
      l("gen.late_ms") = Stats.quantile(late.toSeq.drop(warmup).map(_.toDouble), 0.99)
      val (bytes, nFiles) = Util.dataFiles(out)
      l("sinks.files_per_batch") = nFiles.toDouble / log.size
      l("sinks.stream_bytes_per_row") = bytes.toDouble / tot.getLong(0)
      // per micro-batch (the batch half's spark.etl.* are per iteration)
      l ++= tracer.metrics(math.max(1, ev.size).toDouble)
      val (on, off) = lat.partition { case (i, _) => traced(i) }
      l("trace.stream_overhead_ms") = med(on.map(_._2)) - med(off.map(_._2))
    }
    lat.size
  }

  def checkWarm(s: Stream, exp: Map[String, Long], res: Result): Unit = {
    val r = s.spark.read.parquet(s.out.toString).agg(count(lit(1)), sum(col("id"))).head()
    res.op(r.getLong(0) == exp("warm_kept") && r.getLong(1) == exp("warm_id_sum"),
      "stream warm-up file: committed rows do not match")
  }
}
