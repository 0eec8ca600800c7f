package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connect.{FhirSinks, FhirSources, InMemoryFhirStore, StoreRef}
import graft.etl.OdsImport
import graft.streaming.{TaskPoller, Writeback}

/** ods_writeback: the paper's pipelines 1 and 2 on generated inputs.
  *
  * One round starts from a freshly seeded store and runs the three-leg
  * ODS import (Organization, Practitioner, PractitionerRole) from the
  * zipped CSVs, the same import again against the loaded store, then one
  * poll → classify → writeback of the seeded Tasks. Set-up runs one such
  * round, without the re-import, unmeasured; measured rounds repeat until
  * the run's seconds are spent. Only measured rounds count as operations;
  * every round's outputs are checked.
  */
object OdsWorkload {
  def run(spark: SparkSession, a: Main.Args, tr: Tracer,
      probes: Option[Probes], rec: Main.Record): Unit = {
    import spark.implicits._
    StoreCounts.timing = a.trace
    val in = a.data
    val (seedRows, consultations, compositions) =
      tr.span("core.cache_warm", "setup") {
        val rows = Files.readAllLines(Paths.get(in, "store.tsv")).asScala.toSeq
          .map { l => val p = l.split("\t", 3); (p(0), p(1), p(2)) }
        val c = spark.read.schema(
          "encounterSystem string, encounterValue string, bundleJson string")
          .json(s"$in/consultations.json").cache()
        val d = spark.read.schema("patientId string, encounterId string")
          .json(s"$in/compositions.json").cache()
        c.count(); d.count()
        (rows, c, d)
      }
    val cutoff = a.opts("cutoff")
    val pollCount = a.opts("poll-count").toInt
    val now = lit(a.opts("now"))

    /** One import leg's action counts: (inserts, updates, noops). */
    type Counts = (Long, Long, Long)

    /** S2: the store's resources of one type as the P1 projection the
      * merges join (the search itself runs here, the projection lazily).
      */
    def extract(ref: StoreRef, rt: String): DataFrame = tr.span("connect.extract") {
      val raw = FhirSources.search(spark, ref, rt, Int.MaxValue)
      val r = col("resource")
      if (rt == "PractitionerRole")
        raw.select(
          get_json_object(r, "$.organization.identifier.value").as("ODS"),
          get_json_object(r, "$.practitioner.identifier.value").as("GMP"),
          get_json_object(r, "$.id").as("_id"), r.as("ResourceString"))
      else
        raw.select(
          get_json_object(r, "$.id").as("_id"),
          concat(lit(s"$rt/"), get_json_object(r, "$.id")).as("Key"),
          expr("concat_ws(',', transform(from_json(resource, " +
            "'struct<identifier:array<struct<system:string,value:string>>>')" +
            ".identifier, x -> concat(x.system, '|', x.value)))").as("Identifier"),
          r.as("ResourceString"))
    }

    def read(path: String, schema: org.apache.spark.sql.types.StructType) =
      tr.span("sources.read") {
        val df = spark.read.format("zipcsv").schema(schema).load(path).persist()
        rec.counters("sources.rows") += df.count()
        df
      }

    /** Plan (materialized, with its action counts), then apply inserts and
      * updates. Returns the plan with `_id` set for the inserted rows.
      */
    def leg(ref: StoreRef, rt: String, key: String,
        plan: => DataFrame): (DataFrame, Counts) = {
      val planned = tr.span("etl.plan") {
        val p = plan.persist()
        val n = p.groupBy("action").count().as[(String, Long)].collect().toMap
        (p, (n.getOrElse("insert", 0L), n.getOrElse("update", 0L), n.getOrElse("noop", 0L)))
      }
      val (p, counts) = planned
      val withIds = tr.span("connect.sink") {
        val ids =
          if (counts._1 == 0) Seq.empty[(String, String)]
          else FhirSinks.createReturningIds(p.filter(col("action") === "insert"),
            key, "doc", rt, ref).as[(String, String)].collect().toSeq
        if (counts._2 > 0)
          FhirSinks.updateWhere(
            p.filter(col("action") === "update").withColumn("_target_id", col("_id")),
            "_target_id", "doc", rt, ref)
        val idDf = ids.toDF(key, "new_id")
        p.join(broadcast(idDf), Seq(key), "left")
          .withColumn("_id", when(col("_id") === "", col("new_id")).otherwise(col("_id")))
          .drop("new_id")
      }
      (withIds, counts)
    }

    def importAll(ref: StoreRef, tag: String): Seq[Counts] = {
      val cached = ArrayBuffer.empty[DataFrame]
      def keep(df: DataFrame) = { cached += df; df }
      try {
        val (orgs, c1) = tr.span("etl.leg", s"$tag:Organization") {
          val prac = keep(read(s"$in/epraccur", OdsImport.epraccurSchema))
          val stored = extract(ref, "Organization")
          leg(ref, "Organization", "ODS", keep(OdsImport.planOrganisations(
            OdsImport.mergeOrganisations(prac, stored))))
        }
        val (gps, c2) = tr.span("etl.leg", s"$tag:Practitioner") {
          val egp = keep(read(s"$in/egpcur", OdsImport.egpcurSchema))
          val stored = extract(ref, "Practitioner")
          leg(ref, "Practitioner", "GMP", keep(OdsImport.planPractitioners(
            OdsImport.mergePractitioners(egp, stored))))
        }
        val (_, c3) = tr.span("etl.leg", s"$tag:PractitionerRole") {
          val stored = extract(ref, "PractitionerRole")
          leg(ref, "PractitionerRole", "GMP", keep(OdsImport.planRoles(
            OdsImport.mergeRoles(gps, orgs, stored))))
        }
        Seq(c1, c2, c3)
      } finally cached.foreach(_.unpersist())
    }

    def writeback(ref: StoreRef): Long = {
      val polled = tr.span("streaming.poll") {
        val p = TaskPoller.poll(spark, ref, cutoff, pollCount).persist()
        p.count()
        p
      }
      val updates = tr.span("streaming.classify") {
        val u = Writeback.taskWriteback(
          Writeback.classify(polled, consultations, compositions, utcNow = now),
          utcNow = now).persist()
        u.count()
        u
      }
      try tr.span("connect.sink")(FhirSinks.writebackTasks(updates, ref))
      finally { polled.unpersist(); updates.unpersist() }
    }

    val rounds = ArrayBuffer.empty[Map[String, Any]]
    def round(k: Int, measured: Boolean): Unit = {
      val name = s"perfbench-ods-$k"
      val raw = InMemoryFhirStore.named(name)
      seedRows.foreach { case (rt, id, json) => raw.update(rt, id, json) }
      val ref = CountingStoreRef(name)
      val tag = if (measured) s"m$k" else s"w$k"
      val before = StoreCounts.snapshot()
      def timed[T](name: String, trace: String)(body: => T): (T, Double) = {
        val t = System.nanoTime()
        val out = tr.span(name, trace)(body)
        (out, (System.nanoTime() - t) / 1e9)
      }
      val (imp, impS) = timed("ods.import", s"$tag:import")(importAll(ref, s"$tag:import"))
      // the warm-up round skips the re-import: it runs the import's code again
      val (re, reS) =
        if (measured) timed("ods.reimport", s"$tag:reimport")(importAll(ref, s"$tag:reimport"))
        else (Seq.empty, 0.0)
      val (written, wbS) = timed("ods.writeback", s"$tag:writeback")(writeback(ref))
      val tasks = raw.all.collect { case (k, v) if k.startsWith("Task/") =>
        k.stripPrefix("Task/") -> v }
      rounds += Map("measured" -> measured, "import" -> imp.map(c => Seq(c._1, c._2, c._3)),
        "reimport" -> re.map(c => Seq(c._1, c._2, c._3)), "written" -> written,
        "import_s" -> impS, "reimport_s" -> reS, "writeback_s" -> wbS,
        "tasks" -> tasks)
      if (measured) {
        // operations: six legs, one poll-and-classify, one PUT per written Task
        rec.attempted += 7 + written
        rec.units += 1
        rec.measuredWall += impS + reS + wbS
        val after = StoreCounts.snapshot()
        after.foreach { case (k, v) => rec.counters(k) += v - before(k) }
        for (c <- imp ++ re) {
          rec.counters("etl.inserts") += c._1
          rec.counters("etl.updates") += c._2
          rec.counters("etl.noops") += c._3
        }
        rec.counters("streaming.tasks_written") += written
        probes.foreach { p =>
          p.drain()
          rec.plans ++= p.plans.take().map { case (qe, ns) =>
            val (g, x) = PlanWalk.counts(qe.executedPlan, rec.seenCaches)
            (g, x, ns / 1e9)
          }
        }
      }
      // the last round's resources, for the content checks; then free them
      val all = raw.all.toSeq.sorted
      Files.write(Paths.get(a.out, "store.tsv"), all
        .filterNot(_._1.startsWith("Task/"))
        .map { case (k, v) => s"$k\t$v" }.asJava)
      all.foreach { case (k, _) =>
        val Array(rt, id) = k.split("/", 2)
        raw.delete(rt, id)
      }
    }

    round(0, measured = false)
    rec.counters.clear()
    probes.foreach { p => p.drain(); p.plans.take() }
    rec.markSetupEnd()
    val t0 = System.nanoTime()
    var k = 1
    while (k == 1 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      round(k, measured = true)
      k += 1
    }
    rec.fields("rounds") = rounds.toSeq
  }
}
