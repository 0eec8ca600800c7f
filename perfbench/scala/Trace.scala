package perfbench

import scala.collection.mutable
import scala.collection.mutable.{ArrayBuffer, HashMap}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: `trace` groups the spans of one
  * query or one import leg, `parent` is the enclosing span (0 at the top).
  * Times are nanoseconds on the JVM's monotonic clock.
  */
final case class Span(id: Int, trace: String, name: String, parent: Int,
    start: Long, end: Long)

/** Spans recorded around the benchmark's calls into each layer. Disabled,
  * it only runs the body. Enabled, every span also becomes the Spark job
  * group of its thread, so the jobs a call starts attach to it as children.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 1
  var spark: SparkSession = _

  // epoch milliseconds (Spark listener times) -> this clock
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def fromEpochMs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  def current: Int = stack.headOption.map(_._1).getOrElse(0)

  def span[T](name: String, trace: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      val tr = Option(trace).orElse(stack.headOption.map(_._2)).getOrElse("run")
      stack = (id, tr) :: stack
      setGroup(id)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        setGroup(parent)
        spans += Span(id, tr, name, parent, start, end)
      }
    }

  private def setGroup(id: Int): Unit =
    if (spark != null) {
      val sc = spark.sparkContext
      if (id == 0) sc.clearJobGroup() else sc.setJobGroup(id.toString, "perfbench")
    }

  def add(s: Span): Unit = spans += s
  def newId(): Int = { nextId += 1; nextId - 1 }
  def all: Seq[Span] = spans.toSeq
}

/** Task, stage and job counters per Spark job group, from the public
  * listener API. Callbacks run on the listener bus thread.
  */
final class SparkStats extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, delayMs, shuffleW, shuffleR, spill = 0L
    var peakMem = 0L
  }
  private val stageGroup = HashMap.empty[Int, String]
  private val stageJob = HashMap.empty[Int, Int]
  private val aggs = HashMap.empty[String, Agg]
  /** (group, job id, start ms, end ms) and (job id, stage id, submit ms, end ms) */
  val jobs = ArrayBuffer.empty[(String, Int, Long, Long)]
  val stages = ArrayBuffer.empty[(Int, Int, Long, Long)]
  private val jobStart = HashMap.empty[Int, (String, Long)]
  private val ended = scala.collection.mutable.Set.empty[String]

  private def agg(g: String) = aggs.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach { s => stageGroup(s) = g; stageJob(s) = e.jobId }
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t) =>
      jobs += ((g, e.jobId, t, e.time))
      ended += g
    }
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val g = stageGroup.getOrElse(i.stageId, "")
      agg(g).stages += 1
      for (s <- i.submissionTime; c <- i.completionTime; j <- stageJob.get(i.stageId))
        stages += ((j, i.stageId, s, c))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime)
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.shuffleR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  def groups: Map[String, Agg] = synchronized(aggs.toMap)

  /** Block until the listener has seen the end of a job of group `g`. */
  def awaitGroup(g: String, timeoutMs: Long): Unit = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!ended.contains(g)) {
      val left = deadline - System.currentTimeMillis()
      if (left <= 0) throw new IllegalStateException(s"listener never saw $g")
      wait(left)
    }
  }
}

/** Actions the session ran, with their final plans, in completion order. */
final class PlanStats extends QueryExecutionListener {
  private val seen = ArrayBuffer.empty[(QueryExecution, Long)]
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized(seen += ((qe, ns)))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Seq[(QueryExecution, Long)] = synchronized {
    val out = seen.toSeq
    seen.clear()
    out
  }
}

/** Counts over physical plans. A cached relation's own plan is walked the
  * first time a plan reads it (`seen` remembers it), so the work it holds
  * is counted once, where it runs.
  */
object PlanWalk extends AdaptiveSparkPlanHelper {
  private def isGraft(c: Class[_]): Boolean = {
    val n = c.getName
    n.startsWith("graft.") || n.startsWith("org.apache.spark.sql.graftbridge.")
  }

  /** (graft expression nodes, shuffle and broadcast exchanges), through
    * AQE stages and subqueries.
    */
  def counts(p: SparkPlan, seen: mutable.Set[AnyRef]): (Int, Int) = {
    val here = collectWithSubqueries(p) {
      case n: InMemoryTableScanExec =>
        if (seen.add(n.relation.cacheBuilder)) counts(n.relation.cachedPlan, seen)
        else (0, 0)
      case e: Exchange => (0, 1)
      case n => (n.expressions.map(_.collect { case e if isGraft(e.getClass) => 1 }.size).sum, 0)
    }
    (here.map(_._1).sum, here.map(_._2).sum)
  }
}

/** Listener wiring for a traced run. `drain` runs a one-task job and waits
  * until the listener bus has delivered it, so every event before it
  * (jobs, tasks, finished actions) has been counted.
  */
final class Probes(spark: SparkSession) {
  val stats = new SparkStats
  val plans = new PlanStats
  spark.sparkContext.addSparkListener(stats)
  spark.listenerManager.register(plans)
  private var drains = 0

  def drain(): Unit = {
    val sc = spark.sparkContext
    val keep = sc.getLocalProperty("spark.jobGroup.id")
    drains += 1
    val g = s"drain-$drains"
    sc.setJobGroup(g, "perfbench drain")
    try sc.parallelize(Seq(1), 1).count()
    finally if (keep == null) sc.clearJobGroup() else sc.setJobGroup(keep, "perfbench")
    stats.awaitGroup(g, 60000)
  }
}
