package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

final case class RunConfig(workload: String, seed: Long, seconds: Int,
    trace: Boolean, tables: Path, pins: Path, workDir: Path, outDir: Path)

/** What one run measured. `problems` names every output that differed from
  * the expected one; `failed` counts the requests among them. */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
    endToEnd: Seq[(String, Double, String)], detail: Seq[(String, Double, String)],
    perLayer: Map[String, Double])

/** One benchmark run: `--workload kv_hot|kv_snapshot|catalog --seed N
  * --seconds S --trace 0|1`, plus the paths `perfbench/run.py` passes.
  *
  * stdout ends with three JSON lines: the run's context, the detail
  * metrics, and the result (`correct`, `attempted`, `failed`, `metrics`),
  * whose metrics are the end-to-end ones, or with `--trace 1` the
  * per-layer ones this workload exercises. */
object Main {
  val Workloads = Seq("kv_hot", "kv_snapshot", "catalog")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = RunConfig(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("tables")), Paths.get(a("pins")),
      Paths.get(a("work")), Paths.get(a("out")))
    require(Workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    require(cfg.seconds > 0, "--seconds must be positive")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // one JVM, no UDF jars: see graft.Bench for why isolation stays off
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", cfg.workDir.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", cfg.workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val spansFile = cfg.outDir.resolve(s"spans-${cfg.workload}-s${cfg.seed}.jsonl")
    val outcome = cfg.workload match {
      case "catalog" =>
        val c = new Catalog(spark, cfg)
        val o = c.run()
        c.writeSpans(spansFile)
        o
      case kv =>
        val w = if (kv == "kv_hot") new HotKv(spark, cfg) else new SnapshotKv(spark, cfg)
        val o = w.run()
        w.tracer.foreach { t => t.write(spansFile); t.close() }
        o
    }
    val peakRss = Host.peakRssMb
    spark.stop()
    // host speed, recorded beside the numbers it explains; not a metric
    val canary = graft.Bench.canarySeconds(nproc)

    val context = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload), "seed" -> cfg.seed.toString,
      "seconds" -> cfg.seconds.toString, "trace" -> (if (cfg.trace) "1" else "0"),
      "nproc" -> nproc.toString,
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "canary_s" -> Json.num(canary),
      "spans" -> (if (cfg.trace) Json.str(spansFile.toString) else "null"),
      "problems" -> outcome.problems.map(Json.str).mkString("[", ",", "]")))
    def metrics(ms: Seq[(String, Double, String)]) = Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val measured =
      if (cfg.trace) outcome.perLayer.toSeq.sortBy(_._1).map { case (n, v) => (n, v, "") }
      else outcome.endToEnd
    println(s"""{"perfbench":"context","context":$context}""")
    println(s"""{"perfbench":"detail","metrics":${
      metrics(outcome.detail :+ (("peak_rss_mb", peakRss, "MB")))}}""")
    println(Json.obj(Seq(
      "perfbench" -> Json.str("result"),
      "correct" -> (outcome.problems.isEmpty && outcome.failed == 0).toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> metrics(measured))))
    System.out.flush()
  }
}
