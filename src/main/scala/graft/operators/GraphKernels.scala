package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The iterative graph kernels every graph query routes through — one
  * engine per job, each a chain of map/reduce rounds over `(nodes, edges)`
  * frames:
  *
  *  - [[connectedComponents]]: O(log n) alternating star contraction with
  *    a driver union-find finish (`dedup_clusters`, `split_leakfree`, the
  *    pipeline's keeper election, `knn_components`);
  *  - [[labelPropagation]]: the synchronous (max count, then min label)
  *    vote (`graph_labelprop`, `knn_labelprop`);
  *  - [[fixedRounds]]: a fixed number of lineage-cut rounds
  *    (`graph_kcore`, `graph_bfs`);
  *  - [[materialize]]: the round primitive under all of them.
  *
  * Round count is the cost that matters at scale (each round is at least
  * one full shuffle plus a driver round-trip), so each job keeps only the
  * engine with the fewest rounds for the same answer. */
object GraphKernels {

  /** Materialize `df` into an OWNED persisted RDD with a flat logical plan
    * — the driver-controlled-iteration primitive. Cuts lineage like
    * `localCheckpoint` (each round's plan reads the materialized rows, not
    * the whole history) but hands back the RDD so the loop can
    * `unpersist` superseded rounds instead of accumulating one
    * corpus-node-sized block set per round for the session lifetime. */
  private[operators] def materialize(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** `rounds` applications of `step` to `init`, each round [[materialize]]d
    * and registered with [[graft.SharedFrames]] (released after the
    * consuming action). For loops whose state is referenced more than once
    * per round: without the cut, each round's plan embeds the previous
    * round once per reference and the plan grows exponentially. */
  def fixedRounds(init: DataFrame, rounds: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    def cut(df: DataFrame): DataFrame = {
      val (m, rdd) = materialize(df)
      graft.SharedFrames.sharedRdd(rdd)
      m
    }
    (1 to rounds).foldLeft(cut(init))((cur, _) => cut(step(cur)))
  }

  /** CONNECTED COMPONENTS by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") over
    * an arbitrary undirected edge set `(src, dst)` → `(doc_id, cluster)`
    * with cluster = component min.
    *
    *  - large-star: every node u links each LARGER neighbor to the min of
    *    its closed neighborhood — long chains fold toward their minimum
    *    from every node at once;
    *  - small-star: every node links its smaller neighbors (and itself)
    *    to that min — stars flatten.
    *
    * Round count is O(log n) in component size (vs diameter for plain
    * min-label propagation — the difference between 8 rounds and 10⁶ on a
    * pathological chain at corpus scale). Each round is two
    * hash-aggregations + two equi-joins on the edge set; rounds are
    * materialized via [[materialize]] and superseded rounds unpersisted
    * immediately. Convergence = the canonical edge set reaches the
    * composition's fixpoint, which is the per-component star (the round
    * bound, hybrid ≡ pure and union-find equality are spec-pinned in
    * PipelineOperatorsSpec; `dedup_clusters` and `dedup_clusters_star_dist`
    * run this engine against a recursive-CTE oracle). Node universe:
    * endpoints of at least one NON-self-loop edge (a node appearing only
    * as (x, x) names no pair and is dropped with the loop). */
  def connectedComponents(edgesIn: DataFrame): DataFrame =
    connectedComponentsWithRounds(edgesIn)._1

  /** Once the CONTRACTED edge set fits this many rows, stop iterating and
    * finish with a driver union-find over the collected remnant — the
    * standard hybrid in production CC engines: every distributed round on
    * a dwindling tail costs 3–4 full job round-trips to move a few
    * thousand rows, where one collect + an O(E α(E)) fold is microseconds.
    * The asymptotic path is untouched (rounds keep halving structure until
    * the remnant FITS; a 10⁹-node graph still contracts O(log n) times
    * before any collect), and the hybrid is exactness-preserving: each
    * round's output has the same components as the input, so union-find on
    * the remnant computes the same minima (spec-pinned hybrid ≡ pure, and
    * the registered queries stay on the same DuckDB oracle). */
  private[operators] final val CcDriverFinish = 10000L

  private[operators] def connectedComponentsWithRounds(
      edgesIn: DataFrame,
      driverFinishAt: Long = CcDriverFinish): (DataFrame, Int) = {
    // canonical state: directed (hi > lo), self-loops dropped, distinct.
    // The input plan (for dedup_clusters, the whole gram self-join) is
    // computed EXACTLY ONCE into this materialization; the node set for
    // the final labeling derives from it too, never from edgesIn (which
    // would re-run the expensive upstream on every downstream action).
    val (canon0, canon0Rdd) = materialize(edgesIn
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") > col("lo")).distinct())
    var cur = canon0
    var curRdd = canon0Rdd
    var curCount = cur.count()
    var rounds = 0
    var done = curCount == 0L
    while (!done && curCount > driverFinishAt) {
      rounds += 1
      // large-star over the undirected view: u's closed-neighborhood min m,
      // edge (v, m) for every neighbor v > u (v > u ≥ m keeps it canonical)
      val bidir = cur.select(col("hi").as("u"), col("lo").as("v"))
        .union(cur.select(col("lo").as("u"), col("hi").as("v")))
      val mins = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct here: duplicate (hi, lo) emissions collapse for free in
      // small-star's groupBy and final distinct — skipping the intermediate
      // dedup saves one full shuffle per round
      val large = bidir.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      // small-star on the canonical form: all of u's recorded neighbors are
      // smaller, so m = min(lo); link them AND u itself to m
      val smins = large.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val small = large.join(smins, Seq("hi"))
        .select(col("lo").as("n"), col("m"))
        .union(smins.select(col("hi").as("n"), col("m")))
        .filter(col("n") > col("m")) // the min links itself — drop self-loop
        .select(col("n").as("hi"), col("m").as("lo"))
        .distinct()
      val (next, nextRdd) = materialize(small)
      val nextCount = next.count()
      // fixpoint: same count and next ⊆ cur ⇒ set equality
      done = nextCount == curCount && next.except(cur).isEmpty
      // never unpersist the INITIAL canonical set — the final labeling's
      // node universe reads it (registered for harness release below)
      if (curRdd ne canon0Rdd) curRdd.unpersist(blocking = false)
      cur = next; curRdd = nextRdd; curCount = nextCount
    }
    // driver finish: the loop exited with a small UNCONVERGED remnant —
    // union-find it on the driver (path-halving; roots are component
    // minima because union always attaches the larger root). Every
    // contraction round preserves components, so the remnant's components
    // are the original components, and the star it yields is exactly the
    // star more distributed rounds would have reached.
    if (!done && curCount > 0) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrDefault(x, x) != x) {
          val p = parent.getOrDefault(x, x)
          parent.put(x, parent.getOrDefault(p, p)) // halve the path
          x = parent.getOrDefault(x, x)
        }
        x
      }
      cur.collect().foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) {
          if (a < b) parent.put(b, a) else parent.put(a, b)
        }
      }
      val star = Seq.newBuilder[(Long, Long)]
      parent.keySet().forEach { n =>
        val root = find(n)
        if (root != n) star += ((n, root))
      }
      val session = cur.sparkSession
      import session.implicits._
      cur = star.result().toDF("hi", "lo")
    }
    // at the fixpoint `cur` is one star per component: (node, component
    // min) for every non-min node; min nodes label themselves. Canonical
    // edges have hi > lo (no self-loops), so hi ∪ lo is the node universe.
    val nodes = canon0.select(col("hi").as("doc_id"))
      .union(canon0.select(col("lo").as("doc_id"))).distinct()
    val labels = nodes
      .join(cur.select(col("hi").as("doc_id"), col("lo").as("cluster")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    // canon0 (the node universe) and the final round both feed the
    // returned labeling — harness-released after the consuming action
    graft.SharedFrames.sharedRdd(canon0Rdd)
    if (curRdd ne canon0Rdd) graft.SharedFrames.sharedRdd(curRdd)
    (labels, rounds)
  }

  /** LABEL PROPAGATION (Raghavan et al. 2007, the synchronous
    * deterministic variant) over `nodes (v)` and directed `edges
    * (src, dst)` → `(v, lab, csize)`, csize = the label's population.
    *
    * Every node starts as its own label; each of `iters` rounds, ALL nodes
    * update simultaneously from the previous round's labels: a node
    * adopts the label its in-neighbors hold most often, ties to the MIN
    * label, and a node with no in-edges keeps its own id. The election is
    * ONE lexicographic `max(struct(cnt, -lab))` per node: cnt decides
    * first, and among tied counts the max of −lab IS the min lab — sound
    * for any non-negative id (no packing bound). Each round is one
    * equi-join of edges against labels on src plus two partial-combinable
    * aggregates (the (dst, label) count, the per-dst max), so a label
    * shared by millions of neighbors folds map-side before the exchange.
    * Labels are referenced once per round (isolated nodes re-derive their
    * own id from `nodes`), so lineage stays linear and no per-round
    * materialization is needed. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    val init = nodes.select(col("v"), col("v").as("lab"))
    withSizes((1 to iters).foldLeft(init) { (labels, _) =>
      val elected = edges
        .join(labels.select(col("v").as("src"), col("lab").as("slab")),
          Seq("src"))
        .groupBy(col("dst"), col("slab")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("slab")).as("nslab"))).as("w"))
        .select(col("dst").as("v"), (-col("w.nslab")).as("elab"))
      nodes.join(elected, Seq("v"), "left_outer")
        .select(col("v"), coalesce(col("elab"), col("v")).as("lab"))
    })
  }

  /** `(v, lab)` → `(v, lab, csize)`, csize = the label's population. The
    * labels are shared: both the sizes and the join read them. */
  private[operators] def withSizes(labels: DataFrame): DataFrame = {
    val fin = graft.SharedFrames.shared(labels)
    val sizes = fin.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
    fin.join(sizes, Seq("lab")).select(col("v"), col("lab"), col("csize"))
  }
}
