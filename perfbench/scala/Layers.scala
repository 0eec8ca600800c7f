package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, each per measured pass (query
  * workloads) or per measured round (ods_writeback). Spark's jobs and
  * stages are also added to the tracer as child spans of the span whose
  * job group started them.
  */
object Layers {
  val Names: Seq[String] = Seq(
    "core.session_s", "core.cache_warm_s",
    "queries.build_s", "queries.build_jobs", "queries.plan_s", "queries.exec_s",
    "functions.custom_exprs", "functions.query_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.idle_core_s",
    "spark.scheduler_delay_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.peak_exec_mem_mb", "spark.exchanges",
    "sources.read_s", "sources.rows",
    "etl.plan_s", "etl.inserts", "etl.updates", "etl.noops",
    "connect.extract_s", "connect.searches", "connect.sink_s", "connect.store_s",
    "connect.creates", "connect.updates", "connect.reads",
    "streaming.poll_s", "streaming.classify_s", "streaming.tasks_written")

  def collect(tr: Tracer, p: Probes, rec: Main.Record): Map[String, Double] = {
    val spans = tr.all
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpan = mutable.HashMap.empty[Int, Span]
    for ((g, job, start, end) <- p.stats.jobs; sid <- g.toIntOption; parent <- byId.get(sid)) {
      val s = Span(tr.newId(), parent.trace, "spark.job", sid,
        tr.fromEpochMs(start), tr.fromEpochMs(end))
      jobSpan(job) = s
      tr.add(s)
    }
    for ((job, _, start, end) <- p.stats.stages; js <- jobSpan.get(job))
      tr.add(Span(tr.newId(), js.trace, "spark.stage", js.id,
        tr.fromEpochMs(start), tr.fromEpochMs(end)))

    val n = math.max(rec.units, 1).toDouble
    val measured = spans.filter(_.trace.startsWith("m"))
    def secs(s: Span) = (s.end - s.start) / 1e9
    def total(name: String) = measured.filter(_.name == name).map(secs).sum / n
    def setup(name: String) = spans.filter(_.name == name).map(secs).sum

    val groups = p.stats.groups
    val measuredGroups = measured.map(_.id.toString).toSet
    val aggs = groups.collect { case (g, a) if measuredGroups(g) => a }.toSeq
    def sum(f: p.stats.Agg => Long) = aggs.map(f).sum.toDouble
    val buildIds = measured.filter(_.name == "queries.build").map(_.id.toString).toSet
    val cpus = graft.core.Graft.defaultCpus.toDouble
    val mb = 1024.0 * 1024.0
    val taskRun = sum(_.runMs) / 1000.0

    val out = mutable.LinkedHashMap[String, Double](
      "core.session_s" -> setup("core.session"),
      "core.cache_warm_s" -> setup("core.cache_warm"),
      "queries.build_s" -> total("queries.build"),
      "queries.build_jobs" -> p.stats.jobs.count(j => buildIds(j._1)) / n,
      "queries.plan_s" -> total("queries.plan"),
      "queries.exec_s" -> total("queries.exec"),
      "functions.custom_exprs" -> rec.plans.map(_._1).sum / n,
      "functions.query_s" -> rec.plans.filter(_._1 > 0).map(_._3).sum / n,
      "spark.jobs" -> sum(_.jobs) / n,
      "spark.stages" -> sum(_.stages) / n,
      "spark.tasks" -> sum(_.tasks) / n,
      "spark.task_run_s" -> taskRun / n,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "spark.gc_s" -> sum(_.gcMs) / 1000.0 / n,
      "spark.idle_core_s" -> (cpus * rec.measuredWall - taskRun) / n,
      "spark.scheduler_delay_s" -> sum(_.delayMs) / 1000.0 / n,
      "spark.shuffle_write_mb" -> sum(_.shuffleW) / mb / n,
      "spark.shuffle_read_mb" -> sum(_.shuffleR) / mb / n,
      "spark.spill_mb" -> sum(_.spill) / mb / n,
      "spark.peak_exec_mem_mb" -> aggs.map(_.peakMem).foldLeft(0L)(math.max) / mb,
      "spark.exchanges" -> rec.plans.map(_._2).sum / n,
      "sources.read_s" -> total("sources.read"),
      "etl.plan_s" -> total("etl.plan"),
      "connect.extract_s" -> total("connect.extract"),
      "connect.sink_s" -> total("connect.sink"),
      "streaming.poll_s" -> total("streaming.poll"),
      "streaming.classify_s" -> total("streaming.classify"))
    for (k <- Names if !out.contains(k)) out(k) = rec.counters(k) / n
    Names.map(k => k -> out(k)).toMap
  }
}
