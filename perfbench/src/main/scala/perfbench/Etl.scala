package perfbench

import org.apache.spark.sql.SparkSession

/** `etl`: the reference's own workload, its YAML pipelines run in batch
  * and then in streaming on one session. The batch half
  * ([[EtlBatch]], closed loop) gives throughput and iteration time; the
  * streaming half ([[EtlStream]], open loop) gives per-file latency.
  * Each takes half of the measured seconds.
  */
object Etl {
  def run(ctx: Ctx, res: Result): Unit = {
    val batchExp = Expected.load(ctx.data.resolve("expected.json"))
    val streamData = ctx.work.resolve("stream_in")
    val streamExp = Expected.load(streamData.resolve("expected.json"))

    // set-up, three times in fresh sessions: session start, the first
    // batch iteration, and stream start to its first commit; the last
    // session stays up for the measured halves
    var spark: SparkSession = null
    var runner: EtlBatch.Runner = null
    val setups = (1 to 3).map { k =>
      if (spark != null) spark.stop()
      val (s, sessionS) = Util.timed(Util.session(ctx, ctx.cores))
      spark = s
      runner = new EtlBatch.Runner(spark, ctx, batchExp, res)
      val it = runner.iteration()
      runner.check(it)
      val (stream, streamS, _) = EtlStream.start(spark, ctx, streamData, s"setup$k")
      stream.q.stop()
      EtlStream.checkWarm(stream, streamExp, res)
      val t = sessionS + it.total + streamS
      Util.note(f"set-up: $t%.2f s (session $sessionS%.2f, batch ${it.total}%.2f, stream $streamS%.2f)")
      (t, sessionS)
    }
    res.e2e("setup_s") = Stats.median(setups.map(_._1))

    EtlBatch.measure(spark, runner, ctx, batchExp, res, ctx.seconds / 2)
    res.samples = EtlStream.measure(spark, ctx, streamData, streamExp, res)

    if (ctx.trace) {
      res.layers("setup.session_s") = Stats.median(setups.map(_._2))
      spark.stop()
      val t1 = EtlBatch.baseline(ctx, batchExp, res)
      res.layers("baseline.local1_iter_s") = t1
      res.layers("baseline.speedup") = t1 / res.e2e("pass_s")
    }
    res.layers("jvm.peak_rss_mb") = Util.peakRssMb()
    spark.stop()
  }
}
