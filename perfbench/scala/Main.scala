package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` starts it once per run:
  *
  *   perfbench.Main run --workload W --seconds S --trace 0|1 --data DIR
  *                      --out DIR [--queries a,b,...]
  *   perfbench.Main prepare --data DIR
  *   perfbench.Main dump-oracle OUT.json
  *
  * It drives the program only through public functions, times each call
  * from outside, and writes `record.json` (timings, counts and what the
  * outputs must be checked against) plus `spans.json` when traced. The
  * checks themselves run in `run.py`.
  */
object Main {
  final case class Args(workload: String, seconds: Double, trace: Boolean,
      data: String, out: String, queries: Seq[String],
      opts: Map[String, String])

  /** What a workload hands back: the record's fields beyond the common ones. */
  final class Record {
    val fields = LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val errors = ArrayBuffer.empty[String]
    var setupEnd: Double = Double.NaN
    /** measured passes or rounds, and their summed wall time */
    var units = 0
    var measuredWall = 0.0
    /** per measured query or action: (graft expressions, exchanges, seconds) */
    val plans = ArrayBuffer.empty[(Int, Int, Double)]
    /** cached relations whose plans were already counted */
    val seenCaches = scala.collection.mutable.Set.empty[AnyRef]
    /** layer counters summed over the measured rounds */
    val counters = scala.collection.mutable.HashMap.empty[String, Double]
      .withDefaultValue(0.0)
    def markSetupEnd(): Unit = {
      val now = java.time.Instant.now()
      setupEnd = now.getEpochSecond + now.getNano / 1e9
    }
  }

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("dump-oracle") =>
      val sql = graft.queries.Manifest.oracleSql.toSeq.sortBy(_._1)
      Files.writeString(Paths.get(argv(1)), Json.obj(sql))
    case Some("run") => run(parse(argv.tail))
    case Some("prepare") =>
      val spark = graft.core.Graft.session("perfbench-prepare")
      try graft.core.Layout.benchLayout(spark, argv(2), graft.core.Graft.defaultCpus.toInt)
      finally spark.stop()
    case _ =>
      System.err.println("usage: perfbench.Main run|dump-oracle ...")
      sys.exit(2)
  }

  private def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("out"),
      kv.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty), kv)
  }

  private def run(a: Args): Unit = {
    val tracer = new Tracer(a.trace)
    val rec = new Record
    Files.createDirectories(Paths.get(a.out))
    val spark = tracer.span("core.session", "setup") {
      graft.core.Graft.session("perfbench")
    }
    tracer.spark = spark
    val probes = if (a.trace) Some(new Probes(spark)) else None
    try {
      a.workload match {
        case "corpus_dedup" =>
          QueryWorkload.run(spark, a, tracer, probes, rec)
        case "ods_writeback" =>
          OdsWorkload.run(spark, a, tracer, probes, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      probes.foreach(_.drain())
      val layers = probes.map(p => Layers.collect(tracer, p, rec)).getOrElse(Map.empty)
      val record = Seq(
        "workload" -> a.workload,
        "setup_end_epoch_s" -> rec.setupEnd,
        "attempted" -> rec.attempted,
        "failed" -> rec.failed,
        "errors" -> rec.errors.toSeq,
        "layers" -> layers) ++ rec.fields.toSeq
      Files.writeString(Paths.get(a.out, "record.json"), Json.obj(record))
      if (a.trace) Files.writeString(Paths.get(a.out, "spans.json"),
        tracer.all.map { s =>
          Json.obj(Seq("id" -> s.id, "trace" -> s.trace, "name" -> s.name,
            "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end))
        }.mkString("[\n", ",\n", "\n]\n"))
    } finally spark.stop()
  }

  /** Drop the RDDs persisted since `baseline` (checkpoint blocks of the
    * queries just run), so later passes see the same block storage.
    */
  def sweep(spark: SparkSession, baseline: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!baseline.contains(id)) rdd.unpersist(blocking = true)
    }

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .take(2).mkString(" | ").take(300)
}
