package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.{SharedFrames, SparkEntry}

/** The catalog slice: ten registered queries on fixed tables, one session,
  * one query at a time. Each execution is built (`SparkEntry.queries`, where
  * iterative queries run their rounds and shared materializations),
  * planned, and collected; the rows are then checked against a row count and
  * digest pinned from the query's DuckDB oracle. */
object Catalog {
  /** Build-dominated iterative queries, exec-dominated ones, then short
    * single-plan ones. */
  val Queries: Seq[String] = Seq(
    "dup_spans_suffix", "knn_labelprop", "graph_kcore", "graph_labelprop",
    "dedup_clusters", "unigram_encode", "dedup_minhash_lsh",
    "q1_agg", "q5_multijoin", "topk_per_group")

  /** Short queries run during set-up. */
  val Warmup: Seq[String] = Seq("q1_agg", "q5_multijoin", "topk_per_group")

  private val Mc = new MathContext(12, RoundingMode.HALF_EVEN)

  /** Canonical text of one value; `pin_oracle.py` renders DuckDB's values
    * the same way. Doubles keep 12 significant digits. */
  def render(v: Any): String = v match {
    case null => "\\N"
    case s: String => "'" + s + "'"
    case b: Boolean => b.toString
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case n: java.lang.Number => n.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Mc).stripTrailingZeros.toPlainString

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Order-insensitive digest: each row renders its columns sorted by name,
    * and the sorted row hashes are hashed again. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val hashes = rows.map { r =>
      sha256(order.map { case (c, i) => c + "=" + render(r.get(i)) }.mkString("\u0001"))
    }.sorted
    sha256(hashes.mkString("\n"))
  }

  /** Prints `{"query": "oracle SQL", ...}` for `pin_oracle.py`. */
  def main(args: Array[String]): Unit =
    println(Json.obj(Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))

  /** `{"query": {"rows": n, "digest": "hex"}, ...}` as written by
    * `pin_oracle.py`. */
  def readPins(p: Path): Map[String, (Long, String)] = {
    val entry = """"([a-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"digest"\s*:\s*"([0-9a-f]+)"\s*\}""".r
    entry.findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }
}

final class Catalog(spark: SparkSession, cfg: RunConfig) {
  import Catalog._

  private val pins = readPins(cfg.pins)
  private val tracer = if (cfg.trace) Some(new Tracer(spark)) else None
  private def span[A](name: String)(f: => A): A =
    tracer.fold(f)(_.span(name)(f))

  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  /** Seconds of each execution of each query, in the order run. */
  private val seconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def execute(q: String): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val rows = span(s"catalog.$q") {
      val df = span(s"catalog.$q.build")(SparkEntry.queries(q)(spark, cfg.tables.toString))
      span(s"catalog.$q.plan")(df.queryExecution.executedPlan)
      val rows = span(s"catalog.$q.exec")(df.collect())
      (df.columns.toSeq, rows)
    }
    seconds.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    // the query's shared intermediates are freed now, as graft.Bench does
    SharedFrames.releaseAll()
    val (rowsPinned, digestPinned) = pins(q)
    val d = digest(rows._1, rows._2)
    if (rows._2.length != rowsPinned || d != digestPinned) {
      failed += 1
      problems += s"$q: ${rows._2.length} rows, digest ${d.take(12)}; " +
        s"oracle $rowsPinned rows, digest ${digestPinned.take(12)}"
    }
  }

  private var windowCpuMs = 0.0

  /** Passes over the seed-permuted query list until `seconds` have passed,
    * always completing at least one pass; returns wall seconds. */
  private def window(order: Seq[String]): Double = {
    val t0 = System.nanoTime()
    val cpu0 = Host.cpuMs
    val deadline = t0 + cfg.seconds * 1000000000L
    do order.foreach(execute) while (System.nanoTime() < deadline)
    windowCpuMs = Host.cpuMs - cpu0
    (System.nanoTime() - t0) / 1e9
  }

  def run(): Outcome = {
    require(Queries.forall(pins.contains), s"pins missing in ${cfg.pins}")
    val order = new Random(cfg.seed).shuffle(Queries)
    // set-up: read every table's footer and run the three short queries,
    // which warms the planner and executor paths all queries share. A full
    // warm-up pass would cost more than a run may take.
    Progress("set-up")
    val t0 = System.nanoTime()
    graft.Tables.Names.filter(t => Files.exists(cfg.tables.resolve(s"$t.parquet")))
      .foreach(t => graft.Tables.t(spark, cfg.tables.toString, t).schema)
    Warmup.foreach(q => SparkEntry.queries(q)(spark, cfg.tables.toString).collect())
    SharedFrames.releaseAll()
    val setupS = (System.nanoTime() - t0) / 1e9
    // traced run: untraced, traced, untraced pass; the first warms up, the
    // overhead compares the traced pass with the last one, and the detail
    // metrics are the last one's
    val layers = tracer.map { t =>
      Progress("untraced pass")
      window(order)
      seconds.clear()
      t.enabled = true
      val (gcMs0, gcN0) = Host.gc
      Progress("traced pass")
      val traced = window(order)
      val (gcMs1, gcN1) = Host.gc
      t.enabled = false
      val rate = seconds.values.map(_.size).sum / traced
      val spans = layerMetrics(t)
      seconds.clear()
      Progress("untraced pass")
      val plain = window(order)
      val plainRate = seconds.values.map(_.size).sum / plain
      spans ++ Map("trace.overhead_frac" -> (1.0 - rate / plainRate),
        "jvm.gc_ms" -> (gcMs1 - gcMs0), "jvm.gc_count" -> (gcN1 - gcN0))
    }
    if (!cfg.trace) Progress("timed pass")
    val wallS = if (cfg.trace) Double.NaN else window(order)
    tracer.foreach(_.close())
    val all = seconds.values.flatten.toSeq
    val medians = Queries.map(q => q -> Stats.median(seconds(q).toSeq))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", all.size / wallS, "1/s"),
      ("geomean_ms", Stats.geomean(all) * 1e3, "ms"),
      ("cpu_ms_per_op", windowCpuMs / all.size, "ms"))
    val detail = Seq(
      ("requests", all.size.toDouble, "count"),
      ("p50_ms", Stats.median(all) * 1e3, "ms"),
      ("tail_ms", all.max * 1e3, "ms"),
      ("tail_pct", 100.0, "%"),
      ("catalog_total_s", medians.map(_._2).sum, "s"),
      ("catalog_geomean_s", Stats.geomean(medians.map(_._2)), "s")) ++
      medians.map { case (q, s) => (s"$q.s", s, "s") }
    Outcome(attempted, failed, problems.toSeq, e2e, detail,
      layers.getOrElse(Map.empty))
  }

  /** Build / plan / exec split and Spark work of each query's traced runs,
    * as medians over its executions. */
  private def layerMetrics(t: Tracer): Map[String, Double] = {
    t.drain()
    val tree = t.subtree
    val spans = t.spans
    Queries.flatMap { q =>
      val runs = spans.filter(_.name == s"catalog.$q")
      def phase(p: String) = Stats.median(spans.filter(_.name == s"catalog.$q.$p").map(_.ms / 1e3))
      def work(f: Seq[JobRec] => Double) = Stats.median(runs.map(r => f(t.jobsUnder(r, tree))))
      val builds = spans.filter(_.name == s"catalog.$q.build")
      Seq(
        s"catalog.$q.build_s" -> phase("build"),
        s"catalog.$q.plan_s" -> phase("plan"),
        s"catalog.$q.exec_s" -> phase("exec"),
        s"catalog.$q.jobs" -> work(_.size.toDouble),
        s"catalog.$q.build_jobs" -> Stats.median(builds.map(b => t.jobsUnder(b, tree).size.toDouble)),
        s"catalog.$q.cpu_s" -> work(_.map(_.cpuNs).sum / 1e9),
        s"catalog.$q.shuffle_bytes" -> work(_.map(_.shuffleBytes).sum.toDouble),
        s"catalog.$q.spill_bytes" -> work(_.map(_.spillBytes).sum.toDouble))
    }.toMap
  }

  def writeSpans(p: Path): Unit = tracer.foreach(_.write(p))
}
