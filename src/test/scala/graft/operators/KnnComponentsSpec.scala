package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins for the full-corpus components face: labels must equal TRUE
  * connected components from a driver union-find over the identical edge
  * set (the kNN face itself is oracle-exact + spec-pinned, so collecting
  * its output as the replay's edges is sound), and csize must be the true
  * component population. The DuckDB gate separately proves that the
  * [[Similarity.KnnCcIters]]-round oracle equals the Spark engine. */
class KnnComponentsSpec extends AnyFunSuite with SparkSpec {
  val dir = "/root/testdata/sf0.001"

  private def checkAgainstUnionFind(dir: String): Unit = {
    val got = Similarity.knnComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.SharedFrames.releaseAll()
    assert(got.nonEmpty)

    val edges = Similarity.knnGraphIvf(spark, dir)
      .select(col("src"), col("nbr")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.SharedFrames.releaseAll()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // component id contract: the min vec_id of the component — which is
    // exactly the union-find root when unions always point max → min
    val expected = got.map(_._1).map(v => v -> find(v)).toMap
    got.foreach { case (v, comp, _) =>
      assert(comp == expected(v),
        s"$dir node $v: component $comp != union-find ${expected(v)}")
    }
    val pops = expected.values.groupBy(identity).view.mapValues(_.size).toMap
    got.foreach { case (v, comp, csize) =>
      assert(csize == pops(comp).toLong,
        s"$dir node $v: csize $csize != population ${pops(comp)} of $comp")
    }
    info(s"$dir: ${got.length} nodes, ${pops.size} components, " +
      s"largest ${pops.values.max}")
  }

  test("labels and csize ≡ driver union-find at sf0.001") {
    checkAgainstUnionFind(dir)
  }

  test("labels and csize ≡ driver union-find at sf0.01 and sf0.1") {
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      checkAgainstUnionFind(d)
    }
  }
}
