package perfbench

import java.nio.file.Path
import java.util.Arrays

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.engine._

/** `kv_hot`: four closed-loop clients, each on its own 4096 keys, with
  * 64 B - 4 KiB values and the mix 80% KVG, 5% KVI, 5% KVU, 9% KVD, 1% KVT.
  * No SAV runs, so the whole table stays in the memtable: the engine gate
  * and the memtable + WAL do all the work and Spark runs no jobs. */
final class HotKv(spark: SparkSession, cfg: RunConfig) extends KvWorkload(spark, cfg) {
  import Codes._

  val Clients = 4
  val KeysPerClient = 4096
  val TailPct = 99.9

  def user(c: Int) = s"c$c"
  def key(c: Int, i: Int) = f"h$c-$i%04d"

  /** One client's keys and exact shadow model (null = absent). */
  final class Client(val c: Int) {
    val keys: Array[String] = Array.tabulate(KeysPerClient)(key(c, _))
    val model = new Array[Array[Byte]](KeysPerClient)
    val rnd = new Random(cfg.seed * 1000003L + c)
    private val pool = new Bytes(cfg.seed * 7919L + c).fill(1 << 16)
    def value(): Array[Byte] = {
      val len = 64 + rnd.nextInt(4096 - 64 + 1)
      val off = rnd.nextInt(pool.length - len + 1)
      Arrays.copyOfRange(pool, off, off + len)
    }
  }

  final class State(val dir: Path, val engine: Engine, val clients: Seq[Client])

  /** A fresh engine with every client's keys half populated by KVI. */
  private def build(dir: Path): State = {
    val e = new Engine(spark, options(dir))
    registerUsers(e, (0 until Clients).map(user))
    val clients = (0 until Clients).map(new Client(_))
    val loaders = clients.map { cl =>
      val t = new Thread(() => {
        val u = user(cl.c)
        (0 until KeysPerClient).foreach { i =>
          if (cl.rnd.nextBoolean()) {
            val v = cl.value()
            require(e.kvInsert(u, pass(u), cl.keys(i), v).msg == OK, s"load ${cl.keys(i)}")
            cl.model(i) = v
          }
        }
      })
      t.start(); t
    }
    loaders.foreach(_.join())
    new State(dir, e, clients)
  }

  private def step(e: Engine, cl: Client, log: ClientLog): () => Unit = {
    val u = user(cl.c)
    val p = pass(u)
    () => {
      val i = cl.rnd.nextInt(KeysPerClient)
      val k = cl.keys(i)
      val cur = cl.model(i)
      val dice = cl.rnd.nextInt(100)
      if (dice < 80) {
        val r = call(log, Op.Get)(e.kvGet(u, p, k))
        val ok = if (cur == null) r.msg == ERR_KEY
          else r.msg == OK && Arrays.equals(r.data, cur)
        if (!ok) log.fail(s"KVG $k -> ${r.msg}")
      } else if (dice < 85) {
        val v = cl.value()
        val r = call(log, Op.Put)(e.kvInsert(u, p, k, v))
        if (cur == null) { if (r.msg == OK) cl.model(i) = v else log.fail(s"KVI $k -> ${r.msg}") }
        else if (r.msg != ERR_KEY) log.fail(s"KVI live $k -> ${r.msg}")
      } else if (dice < 90) {
        val v = cl.value()
        val r = call(log, Op.Put)(e.kvUpsert(u, p, k, v))
        if (r.msg != (if (cur == null) OK_INSERT else OK_UPDATE)) log.fail(s"KVU $k -> ${r.msg}")
        cl.model(i) = v
      } else if (dice < 99) {
        val r = call(log, Op.Put)(e.kvDelete(u, p, k))
        if (cur != null) { if (r.msg == OK) cl.model(i) = null else log.fail(s"KVD $k -> ${r.msg}") }
        else if (r.msg != ERR_KEY) log.fail(s"KVD absent $k -> ${r.msg}")
      } else {
        // other clients touch the MRU concurrently, so only its shape is exact
        val r = call(log, Op.Top)(e.kvTop(u, p))
        val lines = r.dataUtf8.split("\n")
        if (r.msg != OK || lines.length > e.opts.topSize || !lines.forall(_.matches("h[0-3]-\\d{4}")))
          log.fail(s"KVT -> ${r.msg}")
      }
    }
  }

  def run(): Outcome = {
    val (st, setupS) = setUp(build)
    val logs = st.clients.map(_ => new ClientLog)
    val (wallS, traced) = measure(logs, secs => window(secs,
      st.clients.zip(logs).map { case (cl, l) => step(st.engine, cl, l) }))
    val expected = mutable.HashMap.empty[String, Array[Byte]]
    st.clients.foreach(cl => cl.model.indices.foreach { i =>
      if (cl.model(i) != null) expected(cl.keys(i)) = cl.model(i)
    })
    val wal = walStats(st.dir)
    val problems = mutable.ArrayBuffer.empty[String]
    val (fresh, recoveryS) = restart(st.engine, st.dir, expected, problems)
    val onDisk = Host.dirBytes(st.dir)
    val layers = traced.map(_ ++ wal ++ probes(fresh, st.dir, user(0)))
    fresh.shutdown()
    Host.deleteTree(st.dir)
    outcome(logs, problems.toSeq, wallS, TailPct, setupS, recoveryS, onDisk, expected, layers)
  }
}
