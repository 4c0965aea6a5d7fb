package perfbench

import java.nio.file.Path
import java.util.Arrays

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.engine._

/** `kv_snapshot`: 102,000 keys are loaded and SAV'd before timing, so the
  * table lives in the bucketed parquet snapshot. Three closed-loop point
  * clients run 90% KVG / 10% KVU uniformly over their own third of the keys;
  * one analytics client cycles KMR (holistic) and KVA, with a SAV every
  * [[SavEvery]] cycles. There are no inserts or deletes, so the key set is
  * fixed and every scan result is known exactly.
  *
  * KMR with the associative `all_keys_assoc` stays out of the cycle: its
  * combine re-splits the growing accumulator once per row, which is
  * quadratic in a partition's keys: one call took 30 - 75 s at this size on
  * 4 cores, longer than a whole run may last. For the same reason the traced
  * run does not probe `MapReduce.runTree` here; `kv_hot` does. */
final class SnapshotKv(spark: SparkSession, cfg: RunConfig) extends KvWorkload(spark, cfg) {
  import Codes._
  import spark.implicits._

  val PointClients = 3
  val KeysPerClient = 34000
  val SavEvery = 1
  val TailPct = 90.0
  val Analyst = "a0"

  def user(c: Int) = s"c$c"
  def key(c: Int, i: Int) = f"s$c-$i%05d"

  private val keys: Array[Array[String]] =
    Array.tabulate(PointClients, KeysPerClient)(key)
  private val sortedKeys: Array[String] = keys.flatten.sorted

  /** Loaded values: 32 - 256 pseudo-random bytes, a function of the seed. */
  private val loaded: Array[Array[Array[Byte]]] = {
    val b = new Bytes(cfg.seed * 31L + 7)
    Array.tabulate(PointClients, KeysPerClient)((_, _) =>
      b.fill(32 + (b.nextLong() & 0xff).toInt % 225))
  }

  /** A point client's shadow model: its loaded values plus its updates. */
  final class Client(val c: Int) {
    val model: Array[Array[Byte]] = loaded(c).clone()
    val rnd = new Random(cfg.seed * 1000003L + c)
    private val b = new Bytes(cfg.seed * 7919L + c)
    def value(): Array[Byte] = b.fill(32 + rnd.nextInt(225))
  }

  final class State(val dir: Path, val engine: Engine)

  /** A fresh engine whose table is the bulk-ingested key set, compacted by
    * SAV into the data dir. */
  private def build(dir: Path): State = {
    val e = new Engine(spark, options(dir))
    registerUsers(e, (0 until PointClients).map(user) :+ Analyst)
    require(e.registerBuiltin(Admin, AdminPass, "all_keys", BuiltinFuncs.AllKeys).succeeded)
    val rows = for (c <- 0 until PointClients; i <- 0 until KeysPerClient)
      yield KV(keys(c)(i), loaded(c)(i))
    e.kv.ingest(spark.createDataset(rows))
    require(e.save(Admin, AdminPass).succeeded, "SAV after load")
    new State(dir, e)
  }

  private def pointStep(e: Engine, cl: Client, log: ClientLog): () => Unit = {
    val u = user(cl.c)
    val p = pass(u)
    () => {
      val i = cl.rnd.nextInt(KeysPerClient)
      val k = keys(cl.c)(i)
      if (cl.rnd.nextInt(10) < 9) {
        val r = call(log, Op.Get)(e.kvGet(u, p, k))
        if (r.msg != OK || !Arrays.equals(r.data, cl.model(i))) log.fail(s"KVG $k -> ${r.msg}")
      } else {
        val v = cl.value()
        val r = call(log, Op.Put)(e.kvUpsert(u, p, k, v))
        if (r.msg != OK_UPDATE) log.fail(s"KVU $k -> ${r.msg}")
        cl.model(i) = v
      }
    }
  }

  /** One analytics request per call, cycling KMR (holistic) and KVA, and
    * a SAV after every [[SavEvery]] such cycles.
    * Results are checked against the fixed key set after the request is
    * timed. */
  private def analyticsStep(e: Engine, log: ClientLog): () => Unit = {
    val p = pass(Analyst)
    val cycle = Seq.fill(SavEvery)(Seq("kmr", "kva")).flatten :+ "sav"
    var n = 0
    def sameKeys(text: String) = text.split("\n").sorted.sameElements(sortedKeys)
    () => {
      cycle(n % cycle.size) match {
        case "kmr" =>
          val r = call(log, Op.Kmr)(e.invokeMr(Analyst, p, "all_keys"))
          if (r.msg != OK || !sameKeys(r.dataUtf8)) log.fail(s"KMR all_keys -> ${r.msg}")
        case "kva" =>
          val r = call(log, Op.Kva)(e.kvAll(Analyst, p))
          if (r.msg != OK || !r.dataUtf8.endsWith("\n") || !sameKeys(r.dataUtf8))
            log.fail(s"KVA -> ${r.msg}")
        case "sav" =>
          val r = call(log, Op.Sav)(e.save(Analyst, p))
          if (r.msg != OK) log.fail(s"SAV -> ${r.msg}")
      }
      n += 1
    }
  }

  def run(): Outcome = {
    val (st, setupS) = setUp(build)
    val clients = (0 until PointClients).map(new Client(_))
    val logs = clients.map(_ => new ClientLog) :+ new ClientLog
    val (wallS, traced) = measure(logs, secs => window(secs,
      clients.zip(logs).map { case (cl, l) => pointStep(st.engine, cl, l) } :+
        analyticsStep(st.engine, logs.last)))
    val expected = mutable.HashMap.empty[String, Array[Byte]]
    clients.foreach(cl => cl.model.indices.foreach(i => expected(keys(cl.c)(i)) = cl.model(i)))
    val wal = walStats(st.dir)
    val problems = mutable.ArrayBuffer.empty[String]
    val (fresh, recoveryS) = restart(st.engine, st.dir, expected, problems)
    val onDisk = Host.dirBytes(st.dir)
    val layers = traced.map(_ ++ wal ++ probes(fresh, st.dir, user(0), runTree = false))
    fresh.shutdown()
    Host.deleteTree(st.dir)
    outcome(logs, problems.toSeq, wallS, TailPct, setupS, recoveryS, onDisk, expected, layers)
  }
}
