package perfbench

import java.nio.file.{Files, Paths}

/** JVM entry of the benchmark; run.py prepares the inputs and calls
  * `perfbench.Main <workload> <work dir> <data dir> <seconds> <trace 0|1>
  * <seed> <cores>`. The result is written to `<work dir>/result.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, work, data, seconds, trace, seed, cores) = args
    val ctx = Ctx(Paths.get(work), Paths.get(data), seconds.toDouble,
      trace == "1", seed.toLong, cores.toInt)
    val res = new Result
    workload match {
      case "etl" => Etl.run(ctx, res)
      case "analytics_mix" => AnalyticsMix.run(ctx, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(ctx.work.resolve("result.json"), res.toJson)
  }
}
