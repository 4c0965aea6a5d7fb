package graft.engine

import java.net.URLClassLoader
import java.nio.file.{Files, Path}
import java.util.jar.JarFile
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The engine's UDF contract (ref: p5/server/functypes.h:8-12):
  *  - `map(key, value) → bytes`, called once per k/v pair;
  *  - `reduce(allMapResults) → bytes`, called ONCE with every map result
  *    (one entry per pair, empties included — filtering is the reducer's
  *    job; ref: p5/server/my_storage.cc:309-310).
  *
  * `reduce` sees the whole list, so it is NOT required to be associative —
  * the faithful execution is distributed map + ordered driver-side gather.
  * Implement [[AssociativeMapReduceFn]] instead when the reduction is
  * associative+commutative; the engine then uses a scalable tree reduction
  * (SURVEY §7.4 risk 2).
  */
trait MapReduceFn extends Serializable {
  def map(key: String, value: Array[Byte]): Array[Byte]
  def reduce(all: Seq[Array[Byte]]): Array[Byte]
}

/** Scale-path flavor: `combine` must be associative and commutative; the
  * engine may apply it on executors (partial aggregation) instead of
  * gathering every map output to the driver. */
trait AssociativeMapReduceFn extends MapReduceFn {
  def zero: Array[Byte]
  def combine(a: Array[Byte], b: Array[Byte]): Array[Byte]
  override def reduce(all: Seq[Array[Byte]]): Array[Byte] =
    all.foldLeft(zero)(combine)
}

/** Named-UDF registry (ref: function table, p5/server/my_functable.cc:26-71;
  * requirement p5/README.md:47-50).
  *
  * The reference's "upload an .so, dlopen, dlsym map+reduce" becomes the JVM
  * analog: upload a JAR, load it in an isolated [[URLClassLoader]], find the
  * class implementing [[MapReduceFn]] (ref ERR_SO ⇔ missing/die-symbol
  * validation, p5/scripts/p5.py:59-60). Registration is admin-gated at the
  * Engine facade. Names are unique (dup → ERR_FUNC) and ≤ LEN_FNAME.
  */
final class FuncTable {
  import Codes._

  private val funcs = mutable.HashMap.empty[String, MapReduceFn]
  private val loaders = mutable.ArrayBuffer.empty[URLClassLoader]
  private val tempJars = mutable.ArrayBuffer.empty[Path]

  def get(name: String): Option[MapReduceFn] = synchronized(funcs.get(name))

  /** Register an in-process function pair (catalog path). */
  def register(name: String, fn: MapReduceFn): Result = synchronized {
    if (name.isEmpty || name.length > LEN_FNAME) Result(false, ERR_REQ_FMT)
    else if (funcs.contains(name)) Result(false, ERR_FUNC)
    else { funcs.update(name, fn); Result(true, OK) }
  }

  /** Register from uploaded JAR bytes — the dlopen/dlsym analog
    * (ref: p5/server/my_functable.cc:45-71). A jar that does not contain
    * exactly one loadable, zero-arg-constructible [[MapReduceFn]] fails
    * with ERR_SO, mirroring the missing-`map`/`reduce`-symbol case. */
  def registerJar(name: String, jarBytes: Array[Byte]): Result = synchronized {
    if (name.isEmpty || name.length > LEN_FNAME || jarBytes.length > LEN_SO)
      Result(false, ERR_REQ_FMT)
    else if (funcs.contains(name)) Result(false, ERR_FUNC)
    else loadFromJar(jarBytes) match {
      case Some(fn) => funcs.update(name, fn); Result(true, OK)
      case None => Result(false, ERR_SO)
    }
  }

  private def loadFromJar(jarBytes: Array[Byte]): Option[MapReduceFn] = Try {
    val tmp: Path = Files.createTempFile("graft-udf-", ".jar")
    var loader: URLClassLoader = null
    try {
      Files.write(tmp, jarBytes)
      loader = new URLClassLoader(Array(tmp.toUri.toURL),
        getClass.getClassLoader)
      val jar = new JarFile(tmp.toFile)
      try {
        val classNames = jar.entries().asScala
          .map(_.getName)
          .filter(n => n.endsWith(".class") && !n.contains("$"))
          .map(_.stripSuffix(".class").replace('/', '.'))
          .toList
        val impl = classNames.iterator.flatMap { cn =>
          Try(loader.loadClass(cn)).toOption
            .filter(classOf[MapReduceFn].isAssignableFrom(_))
            .flatMap(c => Try(
              c.getDeclaredConstructor().newInstance().asInstanceOf[MapReduceFn]
            ).toOption)
        }.nextOption()
        impl.foreach { _ =>
          loaders += loader // keep loader alive (ref README:97-98)
          tempJars += tmp // delete with the loader at close()
        }
        impl
      } finally jar.close()
    } finally {
      // rejected jar (ERR_SO): nothing retains the loader or the temp file —
      // close and delete now, or repeated failed KVF uploads accumulate both
      if (!loaders.lastOption.contains(loader)) {
        if (loader != null) Try(loader.close())
        Files.deleteIfExists(tmp)
      }
    }
  }.toOption.flatten

  def names: Seq[String] = synchronized(funcs.keys.toSeq)

  /** Shutdown analog of dlclose-all + codecache cleanup
    * (ref: p5/server/my_functable.cc:95-109). */
  def close(): Unit = synchronized {
    loaders.foreach(l => Try(l.close()))
    loaders.clear()
    tempJars.foreach(p => Try(Files.deleteIfExists(p)))
    tempJars.clear()
    funcs.clear()
  }
}

/** Built-in catalog re-implementing the reference's shipped UDF corpus from
  * its documented behavior (ref: the p5/so sources, SURVEY §2.3). */
object BuiltinFuncs {

  /** map = key bytes; reduce = newline-concat of non-empties
    * (ref behavior: p5/so/all_keys.cc; golden p5/scripts/p5.py:66-67). */
  object AllKeys extends MapReduceFn {
    def map(key: String, value: Array[Byte]): Array[Byte] = key.getBytes("UTF-8")
    def reduce(all: Seq[Array[Byte]]): Array[Byte] =
      all.filter(_.nonEmpty).map(new String(_, "UTF-8")).mkString("\n")
        .getBytes("UTF-8")
  }

  /** map = value iff atoi(key[1:]) is odd, else empty; reduce = newline-
    * joined non-empties, each concatenated twice (ref behavior:
    * p5/so/odd_key_vals.cc; golden ["11","33","55","77"],
    * p5/scripts/p5.py:79). */
  object OddKeyVals extends MapReduceFn {
    def map(key: String, value: Array[Byte]): Array[Byte] = {
      val n = atoi(key.drop(1))
      if ((n & 1) == 1) value else Array.emptyByteArray
    }
    def reduce(all: Seq[Array[Byte]]): Array[Byte] =
      all.filter(_.nonEmpty)
        .map(r => new String(r, "UTF-8") * 2)
        .mkString("\n").getBytes("UTF-8")

    /** C `atoi` semantics: optional sign, leading digits, 0 on no-parse. */
    private def atoi(s: String): Int = {
      val t = s.dropWhile(_.isWhitespace)
      val (sign, rest) =
        if (t.startsWith("-")) (-1, t.drop(1))
        else if (t.startsWith("+")) (1, t.drop(1))
        else (1, t)
      val digits = rest.takeWhile(_.isDigit)
      if (digits.isEmpty) 0 else sign * digits.toInt
    }
  }

  /** Failure-injection analogs of invalid1/invalid2 (UDF dies at runtime →
    * KMR must answer ERR_SERVER and the engine must survive;
    * ref: p5/scripts/p5.py:85-90). */
  object FailingMap extends MapReduceFn {
    def map(key: String, value: Array[Byte]): Array[Byte] =
      throw new IllegalStateException("sandbox violation (map)")
    def reduce(all: Seq[Array[Byte]]): Array[Byte] = Array.emptyByteArray
  }
  object FailingReduce extends MapReduceFn {
    def map(key: String, value: Array[Byte]): Array[Byte] = value
    def reduce(all: Seq[Array[Byte]]): Array[Byte] =
      throw new IllegalStateException("sandbox violation (reduce)")
  }

  /** Deterministic-output flavors: KMR output order is unspecified in the
    * reference (tests sort before comparing, ref: p5/scripts/cse303.py:215-226),
    * so oracle-compared query registrations use reducers that sort their
    * gathered inputs first. */
  object AllKeysSorted extends MapReduceFn {
    def map(key: String, value: Array[Byte]): Array[Byte] = key.getBytes("UTF-8")
    def reduce(all: Seq[Array[Byte]]): Array[Byte] =
      all.filter(_.nonEmpty).map(new String(_, "UTF-8")).sorted
        .mkString("\n").getBytes("UTF-8")
  }
  object OddKeyValsSorted extends MapReduceFn {
    def map(key: String, value: Array[Byte]): Array[Byte] =
      OddKeyVals.map(key, value)
    def reduce(all: Seq[Array[Byte]]): Array[Byte] =
      all.filter(_.nonEmpty).map(r => new String(r, "UTF-8") * 2).sorted
        .mkString("\n").getBytes("UTF-8")
  }

  /** Associative flavor of AllKeys for the tree-reduction scale path.
    * `combine` MERGES two sorted newline lists, so it is associative AND
    * commutative over multisets — the contract `AssociativeMapReduceFn`
    * documents and `treeReduce` requires. (The previous plain concat was
    * associative only: tree reduction could emit any partition order run
    * to run. Now the output is the sorted key list regardless of combine
    * order or grouping — determinism spec-pinned in EngineMapReduceSpec.)
    * Map outputs are single lines (trivially sorted), so every combine
    * input is sorted by induction. `reduce` (one call per partition in
    * the tree tier) sorts its inputs once instead of folding pairwise
    * merges — the fold re-splits the growing accumulator on every
    * combine, quadratic in the partition's key count. */
  object AllKeysAssoc extends AssociativeMapReduceFn {
    def map(key: String, value: Array[Byte]): Array[Byte] = key.getBytes("UTF-8")
    def zero: Array[Byte] = Array.emptyByteArray
    override def reduce(all: Seq[Array[Byte]]): Array[Byte] =
      all.filter(_.nonEmpty).map(new String(_, "UTF-8")).sorted
        .mkString("\n").getBytes("UTF-8")
    def combine(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else {
        val xs = new String(a, "UTF-8").split("\n", -1)
        val ys = new String(b, "UTF-8").split("\n", -1)
        val out = new Array[String](xs.length + ys.length)
        var i = 0; var j = 0; var k = 0
        while (i < xs.length && j < ys.length) {
          if (xs(i) <= ys(j)) { out(k) = xs(i); i += 1 }
          else { out(k) = ys(j); j += 1 }
          k += 1
        }
        while (i < xs.length) { out(k) = xs(i); i += 1; k += 1 }
        while (j < ys.length) { out(k) = ys(j); j += 1; k += 1 }
        out.mkString("\n").getBytes("UTF-8")
      }
  }
}
