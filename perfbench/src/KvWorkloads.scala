package perfbench

import java.nio.file.{Files, Path}
import java.util.Arrays

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.engine._

/** Request classes; a put is a KVI, KVU or KVD. */
object Op {
  val Get = 0; val Put = 1; val Top = 2; val Kmr = 3; val Kva = 4; val Sav = 5
  val names: Array[String] = Array("get", "put", "top", "kmr", "kva", "sav")
}

/** Per-client request counters and latencies; owned by one thread. */
final class ClientLog {
  val lat: Array[LatencyLog] = Array.fill(Op.names.length)(new LatencyLog)
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def fail(what: String): Unit = {
    failed += 1
    if (problems.size < 5) problems += what
  }
}

/** Shared plumbing of the two durable key/value workloads. */
abstract class KvWorkload(spark: SparkSession, cfg: RunConfig) {
  val SubWindows = 4

  val Admin = "admin"
  val AdminPass = "pw-admin"
  def pass(user: String): String = s"pw-$user"

  /** Quotas opened wide, as in KvBench: every check runs, none rejects. */
  def options(dir: Path): EngineOptions = EngineOptions(
    upQuota = Long.MaxValue / 4, downQuota = Long.MaxValue / 4,
    reqQuota = Long.MaxValue / 4, quotaDurSec = 3600.0, admin = Admin,
    dataDir = Some(dir), rng = new Random(cfg.seed))

  var tracer: Option[Tracer] = None

  /** Times one engine call into `log`; a span when the traced window runs. */
  final def call(log: ClientLog, op: Int)(f: => Result): Result = {
    log.attempted += 1
    val t0 = System.nanoTime()
    val r = tracer match {
      case Some(t) => t.span("engine." + Op.names(op))(f)
      case None => f
    }
    val t1 = System.nanoTime()
    log.lat(op).add(t1 - t0, t1)
    r
  }

  /** Start of the last window, whose requests alone are summarized, and
    * the process CPU time it took. */
  private var windowStartNs = 0L
  private var windowCpuMs = 0.0

  /** Runs each client's `step` in a closed loop on its own thread until
    * `seconds` have passed; returns the window's wall seconds. */
  final def window(seconds: Int, steps: Seq[() => Unit]): Double = {
    val t0 = System.nanoTime()
    windowStartNs = t0
    val cpu0 = Host.cpuMs
    val deadline = t0 + seconds * 1000000000L
    @volatile var error: Throwable = null
    val threads = steps.zipWithIndex.map { case (step, i) =>
      val t = new Thread(() => {
        try while (System.nanoTime() < deadline) step()
        catch { case e: Throwable => error = e }
      }, s"perfbench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    windowCpuMs = Host.cpuMs - cpu0
    if (error != null) throw error
    (System.nanoTime() - t0) / 1e9
  }

  final def registerUsers(e: Engine, users: Seq[String]): Unit =
    (Admin +: users).foreach { u =>
      val p = if (u == Admin) AdminPass else pass(u)
      require(e.register(u, p).succeeded, s"REG $u")
    }

  /** WAL records, the distinct keys they touch, and WAL bytes per byte of
    * key+value they carry. The record format is KvStore's:
    * `OP\tbase64(key)[\tbase64(value)]\t#` after one sentinel line. */
  final def walStats(dir: Path): Map[String, Double] = {
    val p = dir.resolve("kv_wal.jsonl")
    val dec = java.util.Base64.getDecoder
    val records = Files.readAllLines(p).asScala.filterNot(_.startsWith("#"))
      .map(_.split("\t"))
    val payload = records.map { r =>
      dec.decode(r(1)).length.toLong + (if (r.length == 4) dec.decode(r(2)).length else 0)
    }.sum
    Map("kvstore.wal_records" -> records.size.toDouble,
      "kvstore.delta_keys" -> records.map(_(1)).distinct.size.toDouble,
      "kvstore.wal_bytes_per_user_byte" ->
        (if (payload == 0) 0.0 else Files.size(p).toDouble / payload))
  }

  /** Stops the engine without SAV, boots a fresh one on the same data dir
    * and checks that its table equals `expected` exactly. */
  final def restart(e: Engine, dir: Path, expected: collection.Map[String, Array[Byte]],
      problems: mutable.ArrayBuffer[String]): (Engine, Double) = {
    Progress("restart check")
    e.shutdown()
    val t0 = System.nanoTime()
    val fresh = new Engine(spark, options(dir))
    val recoveryS = (System.nanoTime() - t0) / 1e9
    val got = fresh.kv.view.collect()
    if (got.length != expected.size)
      problems += s"restart: ${got.length} keys read back, ${expected.size} acknowledged"
    val wrong = got.count(kv => expected.get(kv.key).forall(v => !Arrays.equals(v, kv.value)))
    if (wrong > 0) problems += s"restart: $wrong keys read back a value never acknowledged"
    (fresh, recoveryS)
  }

  /** Median microseconds of `n` back-to-back calls. */
  final def probeUs(n: Int)(f: Int => Any): Double = {
    val xs = (0 until n).map { i =>
      val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e3
    }
    Stats.median(xs)
  }

  /** Layer probes of the traced run on a recovered engine: the public
    * functions each layer exposes, timed directly. The probe key is written
    * first, so it is in the memtable until the probed SAV moves it into the
    * snapshot. `runTree` is left out where one call would outlast a run. */
  final def probes(e: Engine, dir: Path, user: String,
      runTree: Boolean = true): Map[String, Double] = {
    Progress("layer probes")
    val t = tracer.get
    val p = pass(user)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val memKey = "probe-mem"
    e.kv.upsert(memKey, Array.fill[Byte](128)(1))
    out("engine.auth_us") = probeUs(2000)(_ => e.auth.auth(user, p))
    out("engine.quota_us") = probeUs(2000)(_ => e.quotas.of(user).requests.checkAdd(1))
    out("engine.mru_insert_us") = probeUs(2000)(_ => e.mru.insert(memKey))
    out("engine.mru_get_us") = probeUs(2000)(_ => e.mru.get())
    out("kvstore.mem_get_us") = probeUs(2000)(_ => e.kv.get(memKey))
    val v = new Array[Byte](128)
    out("kvstore.upsert_us") = probeUs(10)(i => e.kv.upsert(s"probe-$i", v))
    out("kvstore.view_ms") = probeUs(20)(_ => e.kv.view) / 1e3
    val view = e.kv.view
    Progress("probing MapReduce")
    val runs = (0 until 3).map(_ => t.span("probe.mapreduce.run") {
      val t0 = System.nanoTime()
      MapReduce.run(view, BuiltinFuncs.AllKeys)
      (System.nanoTime() - t0) / 1e9
    })
    out("mapreduce.run_s") = Stats.median(runs)
    if (runTree) {
      val t0 = System.nanoTime()
      MapReduce.runTree(view, BuiltinFuncs.AllKeysAssoc)
      out("mapreduce.run_tree_s") = (System.nanoTime() - t0) / 1e9
    }
    Progress("probing KvStore.save")
    val before = snapshotBytes(dir)
    val t0 = System.nanoTime()
    e.kv.save()
    out("kvstore.save_s") = (System.nanoTime() - t0) / 1e9
    val after = snapshotBytes(dir)
    out("kvstore.snapshot_bytes") = after.values.sum.toDouble
    out("kvstore.save_bytes_written") =
      after.filter { case (g, _) => !before.contains(g) }.values.sum.toDouble
    out("kvstore.snap_get_ms") = probeUs(10)(_ => e.kv.get(memKey)) / 1e3
    t.drain()
    val tree = t.subtree
    val gathered = t.spans.filter(_.name == "probe.mapreduce.run")
      .map(s => t.jobsUnder(s, tree).map(_.resultBytes).sum.toDouble)
    out("mapreduce.gather_bytes") = Stats.median(gathered)
    out.toMap
  }

  /** Bytes of each snapshot generation directory. */
  private def snapshotBytes(dir: Path): Map[String, Long] = {
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("kv_snapshot.g"))
      .map(g => g.getFileName.toString -> Host.dirBytes(g)).toMap
    finally s.close()
  }

  /** Per-op-class layer numbers of the traced window: self time, and the
    * Spark jobs, job milliseconds and tasks each op caused, per op. */
  final def spanMetrics(): Map[String, Double] = {
    val t = tracer.get
    Progress("span metrics")
    t.drain()
    val tree = t.subtree
    val ops = t.spans.filter(_.name.startsWith("engine."))
    val byOp = ops.groupBy(_.name.stripPrefix("engine."))
    val out = mutable.LinkedHashMap.empty[String, Double]
    Op.names.foreach { op =>
      val ss = byOp.getOrElse(op, Nil)
      val withJobs = ss.map(s => s -> t.jobsUnder(s, tree))
      out(s"engine.$op.self_ms") =
        if (ss.isEmpty) 0.0 else Stats.median(withJobs.map { case (s, j) => t.selfMs(s, j) })
      if (op != "top") {
        val n = math.max(1, ss.size).toDouble
        val jobs = withJobs.flatMap(_._2)
        out(s"spark.$op.jobs") = jobs.size / n
        out(s"spark.$op.job_ms") = jobs.map(j => (j.endMs - j.startMs).toDouble).sum / n
        out(s"spark.$op.tasks") = jobs.map(_.tasks.toDouble).sum / n
      }
    }
    val scans = ops.filter(s => Set("engine.kmr", "engine.kva", "engine.sav")(s.name))
    val point = ops.filter(s => Set("engine.get", "engine.put")(s.name))
    out("kvstore.scan_stall_ms") = point
      .filter(p => scans.exists(s => p.startNs < s.endNs && s.startNs < p.endNs))
      .map(_.ms).maxOption.getOrElse(0.0)
    out.toMap
  }

  /** An untimed window of [[WarmupS]] seconds first: the point-lookup and
    * scan paths are JIT-compiled during it. In a test, a second window
    * right after set-up ran 1.7 times the requests of the first. */
  val WarmupS = 10

  /** Untraced run: the warm-up, then one window. Traced run: the warm-up,
    * then an untraced, a traced and an untraced window on the same state;
    * the traced one yields the span metrics, and the share of throughput it
    * lost against the mean of its neighbours is the tracing overhead. The
    * state still drifts after the warm-up, so one neighbour would bias it.
    * `go(s)` runs the clients for `s` seconds and returns the wall seconds. */
  final def measure(logs: Seq[ClientLog], go: Int => Double): (Double, Option[Map[String, Double]]) = {
    var wallS = 0.0
    def rate(f: => Double): Double = {
      val before = logs.map(_.attempted).sum
      wallS = f
      (logs.map(_.attempted).sum - before) / wallS
    }
    Progress("warm-up window")
    go(WarmupS)
    if (!cfg.trace) { Progress("timed window"); (go(cfg.seconds), None) }
    else {
      Progress("untraced window")
      val plainBefore = rate(go(cfg.seconds))
      tracer = Some(new Tracer(spark))
      tracer.get.enabled = true
      val (gcMs0, gcN0) = Host.gc
      Progress("traced window")
      val traced = rate(go(cfg.seconds))
      val (gcMs1, gcN1) = Host.gc
      tracer.get.enabled = false
      val spans = spanMetrics()
      Progress("untraced window")
      val plainAfter = rate(go(cfg.seconds))
      tracer.get.enabled = true // for the probes
      (wallS, Some(spans ++ Map(
        "trace.overhead_frac" -> (1.0 - 2 * traced / (plainBefore + plainAfter)),
        "jvm.gc_ms" -> (gcMs1 - gcMs0), "jvm.gc_count" -> (gcN1 - gcN0))))
    }
  }

  /** End-to-end metrics of the last window, with the per-class breakdown
    * and the restart check's numbers beside them. Throughput and geometric
    * mean latency are medians over [[SubWindows]] equal parts of the window
    * (by completion time), so one stall does not decide them; the detail
    * percentiles cover the whole window. */
  final def outcome(logs: Seq[ClientLog], problems: Seq[String], wallS: Double,
      tailPct: Double, setupS: Double, recoveryS: Double, onDiskBytes: Long,
      live: collection.Map[String, Array[Byte]],
      layers: Option[Map[String, Double]]): Outcome = {
    val samples = logs.flatMap(_.lat.flatMap(_.samples(windowStartNs)))
    val all = samples.map(_._1).toArray
    val partS = wallS / SubWindows
    val parts = samples.groupBy { case (_, end) =>
      math.min(SubWindows - 1, ((end - windowStartNs) / 1e9 / partS).toInt)
    }.values.toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", Stats.median(parts.map(_.size / partS) ++
        Seq.fill(SubWindows - parts.size)(0.0)), "1/s"),
      ("geomean_ms", Stats.median(parts.map(p => Stats.geomean(p.map(_._1 / 1e6)))), "ms"),
      ("cpu_ms_per_op", windowCpuMs / all.length, "ms"))
    def cls(op: Int) = logs.flatMap(_.lat(op).since(windowStartNs)).toArray
    val detail = mutable.ArrayBuffer[(String, Double, String)](
      ("requests", all.length.toDouble, "count"),
      ("p50_ms", Stats.percentile(all, 50) / 1e6, "ms"),
      ("tail_ms", Stats.percentile(all, tailPct) / 1e6, "ms"),
      ("tail_pct", tailPct, "%"),
      ("tail_beyond", Stats.beyond(all, tailPct).toDouble, "count"),
      ("point_ops_per_s", (cls(Op.Get).length + cls(Op.Put).length) / wallS, "1/s"))
    Seq(Op.Get, Op.Put).foreach { op =>
      val xs = cls(op)
      if (xs.nonEmpty) {
        detail += ((s"${Op.names(op)}_p50_ms", Stats.percentile(xs, 50) / 1e6, "ms"))
        detail += ((s"${Op.names(op)}_tail_ms", Stats.percentile(xs, tailPct) / 1e6, "ms"))
      }
    }
    val kmr = cls(Op.Kmr)
    if (kmr.nonEmpty) {
      detail += (("kmr_p50_s", Stats.percentile(kmr, 50) / 1e9, "s"))
      detail += (("kmr_tail_s", kmr.max / 1e9, "s"))
    }
    val sav = cls(Op.Sav)
    if (sav.nonEmpty) detail += (("sav_p50_s", Stats.percentile(sav, 50) / 1e9, "s"))
    val userBytes = live.map { case (k, v) => k.length + v.length.toLong }.sum
    detail += (("recovery_s", recoveryS, "s"))
    detail += (("bytes_per_user_byte", onDiskBytes.toDouble / userBytes, "ratio"))
    Outcome(logs.map(_.attempted).sum, logs.map(_.failed).sum,
      logs.flatMap(_.problems) ++ problems, e2e, detail.toSeq,
      layers.getOrElse(Map.empty))
  }

  /** Builds the starting state on a fresh data dir; returns it with the
    * seconds it took. */
  final def setUp[S](build: Path => S): (S, Double) = {
    Progress("set-up")
    val t0 = System.nanoTime()
    val st = build(cfg.workDir.resolve(cfg.workload))
    (st, (System.nanoTime() - t0) / 1e9)
  }

  def run(): Outcome
}

/** Pseudo-random bytes from a 64-bit state (splitmix64), so values are a
  * pure function of the seed. */
final class Bytes(seed: Long) {
  private var x = seed
  def nextLong(): Long = {
    x += 0x9E3779B97F4A7C15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def fill(n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    var i = 0
    while (i < n) { a(i) = nextLong().toByte; i += 1 }
    a
  }
}
