package perfbench

import scala.collection.mutable

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `req` groups the spans of one
  * pass or request; `parent` is the enclosing span's index, or -1. */
final case class Span(name: String, layer: String, req: Long, parent: Int,
    start: Long, var end: Long)

/** In-memory span recorder for the single client thread. Disabled, it
  * only runs the body; enabled, it keeps every span until the run ends. */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  var req = 0L

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, layer, req, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      open = idx :: open
      try body
      finally { spans(idx).end = System.nanoTime(); open = open.tail }
    }

  /** Self time per layer in seconds: a span's duration minus the part
    * its children cover (children nest inside their parent). */
  def selfSeconds(keep: Span => Boolean): Map[String, Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.filter(i => keep(spans(i)))
      .groupBy(i => spans(i).layer)
      .map { case (l, is) => l -> is.map(i => spans(i).end - spans(i).start - child(i)).sum / 1e9 }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("name\tlayer\treq\tparent\tstart_ns\tend_ns")
      spans.foreach(s => w.println(s"${s.name}\t${s.layer}\t${s.req}\t${s.parent}\t${s.start}\t${s.end}"))
    } finally w.close()
  }
}

/** Spark job/stage/task counters read from outside the program. Each
  * job carries the client's request id as a local property, so stage and
  * task figures land on the request that caused them. */
final class StageCounters extends SparkListener {
  final case class StageRow(req: Long, tasks: Int, cpuNs: Long, runMs: Long,
      shReadB: Long, shWriteB: Long, spillB: Long, taskMs: Seq[Long])
  private val stageReq = mutable.Map.empty[Int, Long]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val jobs = mutable.ArrayBuffer.empty[Long]
  val stages = mutable.ArrayBuffer.empty[StageRow]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(StageCounters.ReqKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs += req
    e.stageIds.foreach(stageReq(_) = req)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskMetrics.executorRunTime
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val ts = taskMs.remove(si.stageId).map(_.toSeq).getOrElse(Nil)
    if (m != null)
      stages += StageRow(stageReq.getOrElse(si.stageId, -1L), si.numTasks,
        m.executorCpuTime, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, ts)
  }

  def drain(spark: SparkSession): Unit =
    GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)

  /** Counter totals over the requests `reqs`. */
  def totals(reqs: Set[Long]): Map[String, Double] = synchronized {
    val ss = stages.filter(s => reqs(s.req))
    val run = ss.map(_.runMs).sum
    // the worst stage's max/median task run time, among stages with at
    // least two tasks that carry at least 5% of the window's task time
    val skews = ss.filter(s => s.taskMs.size >= 2 && s.runMs * 20 >= run).map { s =>
      val sorted = s.taskMs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }
    Map(
      "jobs" -> jobs.count(reqs).toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "task_run_s" -> run / 1e3,
      "shuffle_read_mb" -> ss.map(_.shReadB).sum / 1e6,
      "shuffle_write_mb" -> ss.map(_.shWriteB).sum / 1e6,
      "spill_mb" -> ss.map(_.spillB).sum / 1e6,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
  }

  /** Which counters repeat exactly from one request to the next. */
  def exactness(reqs: Seq[Long]): (Seq[String], Seq[String]) = {
    val keys = Seq("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
    val per = reqs.map(r => totals(Set(r)))
    keys.partition(k => per.map(_(k)).distinct.size <= 1)
  }
}

object StageCounters {
  val ReqKey = "perfbench.req"
}

/** Captures every executed QueryExecution (one per action), so a plan's
  * SQL metrics can be read after the action returns. */
final class PlanCapture extends QueryExecutionListener {
  val seen = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { seen += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized { val r = seen.toList; seen.clear(); r }
}

object Proc {
  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}
