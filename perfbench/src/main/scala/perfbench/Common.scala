package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Run configuration handed over by run.py. `work` is a fresh directory
  * owned by this run: every output, checkpoint, warehouse and temp
  * directory the engine sees lives under it.
  */
final case class Ctx(work: Path, data: Path, seconds: Double,
    trace: Boolean, seed: Long, cores: Int) {
  def dir(name: String): Path = { val p = work.resolve(name); Files.createDirectories(p); p }
}

/** Measured results of one run: end-to-end metrics, per-layer metrics
  * and the operation tally. Written as JSON for run.py.
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var samples = 0 // latency samples behind lat_p50_ms / lat_p99_ms

  /** Count one operation; a false `ok` is a failed operation and its
    * reason is kept for the log.
    */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (checks.size < 50) checks += what }
  }

  def toJson: String = {
    def obj(m: collection.Map[String, Double]) = m.map { case (k, v) =>
      s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"e2e":${obj(e2e)},"layers":${obj(layers)},"attempted":$attempted,""" +
      s""""failed":$failed,"samples":$samples,"checks":${checks.map(Json.str).mkString("[", ",", "]")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Util {
  import scala.jdk.CollectionConverters._

  def now(): Double = System.nanoTime() / 1e9

  /** Progress note on stderr; stdout carries only the result. */
  def note(msg: String): Unit = System.err.println(f"[perfbench +${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  def timed[T](f: => T): (T, Double) = { val t0 = now(); val r = f; (r, now() - t0) }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  /** Bytes and data files (names not starting with `_` or `.`) under `p`. */
  def dataFiles(p: Path): (Long, Int) = if (!Files.exists(p)) (0L, 0) else {
    val s = Files.walk(p)
    try {
      var bytes = 0L; var n = 0
      s.filter(Files.isRegularFile(_)).forEach { f =>
        val name = f.getFileName.toString
        val hidden = name.startsWith("_") || name.startsWith(".")
        val inHidden = p.relativize(f).iterator().asScala.exists(_.toString.startsWith("_"))
        if (!hidden && !inHidden) { bytes += Files.size(f); n += 1 }
      }
      (bytes, n)
    } finally s.close()
  }

  /** The session temp artifact directories (`graft_art_*`) under the
    * JVM temp dir, in MB.
    */
  def artifactMb(): Double = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_art_"))
      .map(treeBytes).sum / 1e6
    finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def session(ctx: Ctx, cores: Int): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse").toString)
      .config("spark.local.dir", ctx.dir("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
