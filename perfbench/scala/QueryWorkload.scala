package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** corpus_dedup: a fixed list of Manifest queries over the re-laid sf0.1
  * tables, one client, closed loop.
  *
  * Set-up builds the session, warms the table cache through
  * `Layout.benchLayout`, then runs one pass that writes every result to
  * parquet for the oracle check, with as many queries in flight as there
  * are cores.
  * Measured passes then repeat the whole list through the `noop` sink
  * until the run's seconds are spent; each pass's wall time is one
  * `suite_s` sample.
  */
object QueryWorkload {
  /** Per-query figures of one traced pass. */
  final case class QueryStat(pass: Int, name: String, build: Double,
      plan: Double, exec: Double, graftExprs: Int, exchanges: Int)

  def run(spark: SparkSession, a: Main.Args, tr: Tracer,
      probes: Option[Probes], rec: Main.Record): Unit = {
    val cpus = graft.core.Graft.defaultCpus.toInt
    val dir = tr.span("core.cache_warm", "setup") {
      graft.core.Layout.benchLayout(spark, a.data, cpus)
    }
    val fns = graft.queries.Manifest.queries
    val missing = a.queries.filterNot(fns.contains)
    require(missing.isEmpty, s"the program declares no query ${missing.mkString(",")}")
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet

    // Set-up ends with the check pass: every result to parquet, one query
    // per core at a time. It is also the JIT and codegen warm-up.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val checks = a.queries.map { q =>
      q -> pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          fns(q)(spark, dir).write.mode("overwrite").parquet(s"${a.out}/results/$q")
      })
    }
    val written = ArrayBuffer.empty[String]
    tr.span("check_pass", "setup") {
      for ((q, f) <- checks) {
        rec.attempted += 1
        try { f.get(); written += q }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            rec.failed += 1
            rec.errors += s"$q (check pass): ${Main.message(e.getCause)}"
        }
      }
    }
    pool.shutdown()
    Main.sweep(spark, baseline)
    probes.foreach { p => p.drain(); p.plans.take() }
    rec.markSetupEnd()

    val walls = ArrayBuffer.empty[Double]
    val stats = ArrayBuffer.empty[QueryStat]
    val t0 = System.nanoTime()
    while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val pass = walls.size + 1
      val p0 = System.nanoTime()
      for (q <- a.queries) {
        rec.attempted += 1
        try probes match {
          case None =>
            fns(q)(spark, dir).write.format("noop").mode("overwrite").save()
          case Some(p) => stats += traced(tr, p, rec, pass, q, () => fns(q)(spark, dir))
        } catch {
          case e: Throwable =>
            rec.failed += 1
            rec.errors += s"$q (pass $pass): ${Main.message(e)}"
        }
      }
      walls += (System.nanoTime() - p0) / 1e9
      Main.sweep(spark, baseline)
    }
    rec.fields("checked") = written.toSeq
    rec.fields("suite_s") = walls.toSeq
    rec.fields("query_stats") = stats.map { s =>
      Map("pass" -> s.pass, "name" -> s.name, "build_s" -> s.build,
        "plan_s" -> s.plan, "exec_s" -> s.exec, "graft_exprs" -> s.graftExprs,
        "exchanges" -> s.exchanges)
    }.toSeq
    rec.units = walls.size
    rec.measuredWall = walls.sum
    rec.plans ++= stats.map(s => (s.graftExprs, s.exchanges, s.exec))
  }

  /** One query, split at the layer boundaries: the plan builder's call
    * (eager checkpoint jobs included), forcing the physical plan, and the
    * execution through the noop sink.
    */
  private def traced(tr: Tracer, p: Probes, rec: Main.Record, pass: Int,
      q: String, build: () => org.apache.spark.sql.DataFrame): QueryStat = {
    var times = Seq.empty[Double]
    tr.span("query", s"m$pass:$q") {
      def timed(name: String)(body: => Unit): Double = {
        val t = System.nanoTime()
        tr.span(name)(body)
        (System.nanoTime() - t) / 1e9
      }
      var df: org.apache.spark.sql.DataFrame = null
      val b = timed("queries.build") { df = build() }
      val pl = timed("queries.plan") { df.queryExecution.executedPlan }
      val ex = timed("queries.exec") {
        df.write.format("noop").mode("overwrite").save()
      }
      times = Seq(b, pl, ex)
    }
    p.drain()
    val c = p.plans.take().map(x => PlanWalk.counts(x._1.executedPlan, rec.seenCaches))
    QueryStat(pass, q, times(0), times(1), times(2),
      c.map(_._1).sum, c.map(_._2).sum)
  }
}
