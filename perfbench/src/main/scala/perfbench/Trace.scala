package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into a graft layer made by the benchmark. */
final case class Span(id: Int, name: String, parent: Int, cycle: Int,
    startNs: Long, endNs: Long)

/** Span recorder. Spans are kept in memory and written out at the end
  * of the run; a disabled tracer only runs the body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var cycle: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, cycle, t0, System.nanoTime())
      }
    }

  /** Self time per span name: duration minus the time covered by child
    * spans, summed over every span of that name. Also returns, per name,
    * the number of distinct cycle ids its spans occurred in. */
  def selfTimes: Map[String, (Double, Int)] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9,
        ss.map(_.cycle).distinct.size)
    }
  }

  def writeJson(path: String): Unit = {
    val body = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""cycle":${s.cycle},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Cumulative Spark-side counters; two snapshots differ by one cycle's. */
final case class SparkCounters(jobs: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0,
    jobIntervals: List[(Long, Long)] = Nil) {
  def -(o: SparkCounters): SparkCounters = SparkCounters(jobs - o.jobs,
    tasks - o.tasks, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    gcMs - o.gcMs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    jobIntervals.take(jobIntervals.size - o.jobIntervals.size))
}

/** One SparkListener plus one QueryExecutionListener, attached from the
  * benchmark and accumulating for the life of the session. Snapshots
  * are taken after draining the listener bus. Dataset.observe is not
  * used: it leaves a non-serializable manager in the session. */
final class SparkProbe(spark: SparkSession) {
  private var c = SparkCounters()
  private val jobStart = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val s = jobStart.remove(e.jobId).getOrElse(e.time)
      c = c.copy(jobs = c.jobs + 1, jobIntervals = (s, e.time) :: c.jobIntervals)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) c = c.copy(tasks = c.tasks + 1,
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = SparkProbe.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
        optimizationMs = c.optimizationMs + ms("optimization"),
        planningMs = c.planningMs + ms("planning"))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def snapshot(): SparkCounters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(c)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object SparkProbe {
  /** Wall time of [t0, t1] not covered by any job interval (all ms). */
  def outsideJobsMs(t0: Long, t1: Long, jobs: List[(Long, Long)]): Long = {
    val clipped = jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = t0
    clipped.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0) - covered
  }

  private val RuleLine = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r

  /** Total time (ns) per analyzer and optimizer rule, by simple class name,
    * from Catalyst's RuleExecutor metering (JVM-wide, cumulative). */
  def ruleNs(): Map[String, Long] =
    RuleExecutor.dumpTimeSpent().split("\n").toSeq.collect {
      case RuleLine(rule, _, total, _, _) =>
        rule.split('.').last.stripSuffix("$") -> total.toLong
    }.groupMapReduce(_._1)(_._2)(_ + _)
}
