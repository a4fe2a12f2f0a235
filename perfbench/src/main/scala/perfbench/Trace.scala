package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Scheduler-level accounting from Spark's public listener API. Work is
  * attributed to the scope named by the `perfbench.scope` local
  * property on the thread that submitted the job (a query family, or
  * `etl`); jobs without it fall to `defaultScope`. Attach and detach it
  * around the work to be traced, so untraced work pays nothing.
  */
final class SchedulerTrace(defaultScope: String) extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L
    var schedDelayMs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stageScope = mutable.HashMap.empty[Int, String]

  private var started = 0L
  private var ended = 0L

  private def acc(scope: String): Acc = accs.getOrElseUpdate(scope, new Acc)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  /** Detach once the listener bus, which delivers events asynchronously,
    * has caught up with every job seen so far.
    */
  def detach(sc: SparkContext): Unit = {
    Thread.sleep(100)
    val deadline = System.currentTimeMillis() + 2000
    while (synchronized(started != ended) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(SchedulerTrace.Key)))
      .getOrElse(defaultScope)
    acc(scope).jobs += 1
    started += 1
    e.stageIds.foreach(stageScope.update(_, scope))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageScope.getOrElse(e.stageId, defaultScope))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      // the scheduler delay as Spark's UI derives it: task wall time not
      // spent deserializing, running or shipping the result
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime
      a.schedDelayMs += math.max(0L, delay)
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Per-scope totals as `spark.<scope>.<metric>`, divided by `per`
    * (the number of passes the totals cover).
    */
  def metrics(per: Double): Map[String, Double] = synchronized {
    accs.toSeq.flatMap { case (scope, a) =>
      Seq("jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
        "sched_delay_s" -> a.schedDelayMs / 1e3, "task_run_s" -> a.runMs / 1e3,
        "shuffle_mb" -> a.shuffleBytes / 1e6, "spill_mb" -> a.spillBytes / 1e6,
        "gc_s" -> a.gcMs / 1e3).map { case (k, v) => s"spark.$scope.$k" -> v / per }
    }.toMap
  }
}

object SchedulerTrace {
  val Key = "perfbench.scope"

  def withScope[T](sc: SparkContext, scope: String)(f: => T): T = {
    sc.setLocalProperty(Key, scope)
    try f finally sc.setLocalProperty(Key, null)
  }
}

/** Every micro-batch progress event of the traced stream. The listener
  * keeps all of them; `StreamingQuery.recentProgress` keeps only the
  * last hundred.
  */
final class ProgressTrace extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e }
  def snapshot: Seq[StreamingQueryListener.QueryProgressEvent] = synchronized(events.toList)
}
