package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins for the shared graph kernels beyond what the registered queries'
  * DuckDB gates cover (their ids are all small). */
class GraphKernelsSpec extends AnyFunSuite with SparkSpec {

  /** One synchronous round on the driver: each node with in-edges adopts
    * the label its in-neighbors hold most often, ties to the min label;
    * a node without in-edges takes its own id. `elect` picks the winner
    * from the (label → count) tally. */
  private def replay(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int,
      elect: Map[Long, Int] => Long): Map[Long, Long] = {
    val inNbrs = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    (1 to iters).foldLeft(nodes.map(v => v -> v).toMap) { (lab, _) =>
      nodes.map { v =>
        v -> inNbrs.get(v).fold(v) { srcs =>
          elect(srcs.groupBy(lab).view.mapValues(_.size).toMap)
        }
      }.toMap
    }
  }

  test("labelPropagation ≡ (max count, min label) replay with ids ≥ 2³²") {
    import spark.implicits._
    // ids spread across several 2³² blocks: a (cap − cnt)·2³² + label
    // packing loses the high bits and mixes count into label
    val linked = (0 until 12).map(k => (3L << 32) + k * ((1L << 32) + 7L))
    val nodes = linked :+ ((9L << 32) + 5L) // isolated: keeps its own id
    val rnd = new scala.util.Random(11)
    val edges = for (a <- linked; b <- linked
        if a < b && rnd.nextInt(3) == 0; e <- Seq((a, b), (b, a))) yield e
    val iters = 3
    val got = GraphKernels.labelPropagation(nodes.toDF("v"),
        edges.toDF("src", "dst"), iters).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.SharedFrames.releaseAll()

    val want = replay(nodes, edges, iters, tally =>
      tally.toSeq.minBy { case (lab, cnt) => (-cnt, lab) }._1)
    assert(got.view.mapValues(_._1).toMap == want)
    val pops = want.values.groupBy(identity).view.mapValues(_.size).toMap
    got.foreach { case (v, (lab, csize)) =>
      assert(csize == pops(lab).toLong, s"node $v: csize $csize != ${pops(lab)}")
    }
    assert(want.exists { case (v, l) => v != l }, "no node changed label")

    // the case discriminates: the packed-BIGINT election gets it wrong
    val enc = 1L << 32
    val packed = replay(nodes, edges, iters, tally =>
      tally.map { case (lab, cnt) => (200L - cnt) * enc + lab }.min % enc)
    assert(packed != want)
  }
}
