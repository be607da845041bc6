package iocbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around every call the benchmark makes into a program layer.
  *
  * Span wall times are always kept (two clock reads each): the end-to-end
  * numbers are built from them. With `enabled`, each span also tags the
  * Spark jobs it starts (a thread-local job property holding the span path,
  * e.g. `mix.warm/q.q5_join`), and two listeners attribute stage counts,
  * task CPU, shuffle bytes, busy intervals and plan phases to those paths. */
final class Trace(enabled: Boolean) {
  import Trace._

  final case class Instance(path: String, startMs: Long, endMs: Long, nanos: Long)
  final case class StageRec(path: String, startMs: Long, endMs: Long, cpuNs: Long,
                            shuffleBytes: Long)

  private val instances = mutable.ArrayBuffer[Instance]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val plans = mutable.ArrayBuffer[(Long, Long)]() // (phase start ms, plan ms)
  private val stagePath = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  @volatile private var submitted = 0L
  @volatile private var completed = 0L
  private var spark: SparkSession = _

  private val stageListener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Key))).getOrElse("")
      stagePath.put(e.stageInfo.stageId, p)
      submitted += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val rec = StageRec(Option(stagePath.remove(i.stageId)).getOrElse(""),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      Trace.this.synchronized { stages += rec }
      completed += 1
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        Trace.this.synchronized { plans += ((start, ph.values.map(_.durationMs).sum)) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Start attributing Spark work of `s` (no-op unless enabled). */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(stageListener)
    s.listenerManager.register(planListener)
  }

  def span[A](name: String)(f: => A): A = {
    val sc = if (enabled && spark != null) spark.sparkContext else null
    val outer = if (sc != null) Option(sc.getLocalProperty(Key)) else None
    val path = outer.map(_ + "/" + name).getOrElse(name)
    if (sc != null) sc.setLocalProperty(Key, path)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      synchronized { instances += Instance(path, ms0, System.currentTimeMillis(), t1 - t0) }
      if (sc != null) sc.setLocalProperty(Key, outer.orNull)
    }
  }

  /** Wait until the listener bus has delivered every submitted stage. */
  def drain(): Unit = if (enabled && spark != null) {
    val deadline = System.nanoTime() + 10000000000L
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      if (submitted == completed) stable += 1 else stable = 0
    }
  }

  /** Forget everything recorded so far (e.g. a cold first operation). */
  def reset(): Unit = { drain(); synchronized { instances.clear(); stages.clear(); plans.clear() } }

  private def under(path: String, p: String): Boolean =
    p == path || p.startsWith(path + "/") || p.endsWith("/" + path) || p.contains("/" + path + "/")

  /** Wall seconds of every instance of span `name` (matched as a path segment). */
  def durations(name: String): Seq[Double] = synchronized {
    instances.filter(i => i.path == name || i.path.endsWith("/" + name)).map(_.nanos / 1e9).toSeq
  }

  def seconds(name: String): Double = durations(name).sum

  /** Spark-side totals of the work started inside span `name`. */
  def spark(name: String): SparkTotals = synchronized {
    val ins = instances.filter(i => i.path == name || i.path.endsWith("/" + name))
    val ss = stages.filter(s => under(name, s.path))
    // busy = union of stage intervals, clipped to the span's own instances
    val busy = ins.map { in =>
      val iv = ss.map(s => (math.max(s.startMs, in.startMs), math.min(s.endMs, in.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      covered
    }.sum
    val wallMs = ins.map(i => i.endMs - i.startMs).sum
    val planMs = plans.filter { case (st, _) =>
      ins.exists(i => st >= i.startMs && st <= i.endMs) }.map(_._2).sum
    SparkTotals(ss.size, ss.map(_.cpuNs).sum / 1e9, ss.map(_.shuffleBytes).sum,
      math.max(0L, wallMs - busy), planMs)
  }
}

final case class SparkTotals(stages: Int, taskCpuS: Double, shuffleBytes: Long,
                             idleMs: Long, planMs: Long)

object Trace {
  val Key = "iocbench.span"

  /** Process-wide code generation counters: (classes compiled, compile ms). */
  def codegen(): (Long, Double) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)
}
