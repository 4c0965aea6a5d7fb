package graft.engine

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** KMR execution (ref: invoke_mr, p5/server/my_storage.cc:269-415).
  *
  * Spark restatement of the reference's fork+pipe pipeline (SURVEY §3.2):
  * the snapshot-scan → per-pair `map()` stage distributes across executors
  * (`mapPartitions`, pipelined with the scan by whole-stage codegen — the
  * analog of the parent streaming frames into the child's read loop); the
  * single holistic `reduce()` runs once over the gathered results, exactly
  * as the reference's child calls `reduce(all)` at pipe-EOF.
  *
  * Scale note: the gather (`collect`) is forced by the UDF contract — the
  * reducer sees the WHOLE list, so it cannot be split (SURVEY §7.4 risk 2).
  * For [[AssociativeMapReduceFn]] we instead tree-aggregate on executors,
  * which is the 100 TB-safe path; holistic reducers at that scale are
  * rejected by the same reasoning the reference would OOM its result pipe.
  *
  * Failure contract: a UDF that throws anywhere (map on an executor, reduce
  * on the driver) must yield ERR_SERVER and leave the engine serving — the
  * observable contract of the seccomp-killed child (ref:
  * p5/server/my_storage.cc:361-364; p5/scripts/p5.py:85-90). Executor task
  * → driver isolation gives the process separation the fork() provided.
  */
object MapReduce {

  def run(kv: Dataset[KV], fn: MapReduceFn): Result = fn match {
    // an associative reducer declares its combine safe in any grouping —
    // dispatch to the executor-side tree so per-row map outputs are never
    // gathered on the driver (this is the 100 TB path; round 2 computed it
    // but nothing routed to it)
    case assoc: AssociativeMapReduceFn => runTree(kv, assoc)
    case _ =>
      try {
        val mapped: Array[Array[Byte]] =
          kv.mapPartitions(it => it.map(r => fn.map(r.key, r.value)))(
            Encoders.BINARY).collect()
        Result(true, Codes.OK, fn.reduce(mapped.toIndexedSeq))
      } catch {
        case _: Throwable => Result(false, Codes.ERR_SERVER)
      }
  }

  /** Executor-side tree reduction for associative reducers — no driver
    * gather of per-row outputs; each partition's map outputs are reduced
    * by ONE `fn.reduce` call on its executor (a reducer may override it
    * with something cheaper than the pairwise fold), then the partials
    * combine in a logarithmic tree (`treeReduce`). */
  def runTree(kv: Dataset[KV], fn: AssociativeMapReduceFn, depth: Int = 2): Result =
    try {
      val rdd = kv.rdd.map(r => fn.map(r.key, r.value))
      val reduced =
        if (rdd.isEmpty()) fn.zero
        else rdd.mapPartitions(it => Iterator(fn.reduce(it.toSeq)))
          .treeReduce(fn.combine _, depth)
      Result(true, Codes.OK, reduced)
    } catch {
      case _: Throwable => Result(false, Codes.ERR_SERVER)
    }
}
