package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded PARTIAL top-k aggregation — per-group top-k WITHOUT a window
  * sort. The window formulation (`row_number() OVER (PARTITION BY g ORDER
  * BY v)` + `rn <= k`) is partially rescued by Spark's WindowGroupLimit
  * pushdown (measured in SkewHarnessSpec: a PARTIAL group-limit bounds
  * what shuffles to ≤ k per (partition, group)) — but it still SORTS
  * every map partition by (g, v) and again on the reduce side, and the
  * pushdown exists only for rank-limit filters. This Aggregator keeps a
  * k-bounded buffer per group instead: no sort anywhere (hash aggregate
  * + bounded ordered insert), the same ≤ k·partitions shuffle bound, and
  * the shape composes where group-limit pushdown cannot apply (inside
  * multi-aggregate plans, under variable per-group quotas as in
  * temperature_mix). That is the partial-combine property that makes
  * count/sum scale, applied to ranking (an ObjectHashAggregate with a
  * typed buffer; ref precedent: the associative KMR tier,
  * [[graft.engine.MapReduce.runTree]], SURVEY §7.3).
  *
  * Ordering contract: descending by value, ties broken ASCENDING by id —
  * a total order, so the result is partitioning-independent and the
  * DuckDB window oracle replays it exactly.
  */
object TopKAgg {

  /** One candidate row: (id, value). */
  final case class Entry(id: Long, v: Double)

  /** Rank order: value descending with NaN ranked FIRST — matching both
    * engines' NaN-largest sort semantics, so a NaN score (e.g. a
    * zero-norm cosine upstream) cannot make buffer order partition-
    * dependent (the naive `a.v > b.v` is false for every NaN compare).
    * Equal values — including NaN==NaN and the SQL-equal -0.0/0.0 pair —
    * tie ascending on id, exactly like the window oracle's
    * `ORDER BY v DESC, id`. */
  private def lt(a: Entry, b: Entry): Boolean = {
    val an = a.v.isNaN; val bn = b.v.isNaN
    if (an != bn) an
    else if (!an && a.v != b.v) a.v > b.v
    else a.id < b.id
  }

  /** Merge two rank-sorted bounded lists into one, truncated at k. */
  private def mergeK(k: Int, a: List[Entry], b: List[Entry]): List[Entry] = {
    @annotation.tailrec
    def go(x: List[Entry], y: List[Entry], acc: List[Entry], n: Int): List[Entry] =
      if (n == 0) acc.reverse
      else (x, y) match {
        case (Nil, Nil) => acc.reverse
        case (h :: t, Nil) => go(t, Nil, h :: acc, n - 1)
        case (Nil, h :: t) => go(Nil, t, h :: acc, n - 1)
        case (hx :: tx, hy :: ty) =>
          if (lt(hx, hy)) go(tx, y, hx :: acc, n - 1)
          else go(x, ty, hy :: acc, n - 1)
      }
    go(a, b, Nil, k)
  }

  def of(k: Int): Aggregator[Entry, List[Entry], Seq[Entry]] =
    new Aggregator[Entry, List[Entry], Seq[Entry]] {
      def zero: List[Entry] = Nil
      def reduce(buf: List[Entry], e: Entry): List[Entry] =
        mergeK(k, buf, e :: Nil)
      def merge(a: List[Entry], b: List[Entry]): List[Entry] = mergeK(k, a, b)
      def finish(buf: List[Entry]): Seq[Entry] = buf
      def bufferEncoder: Encoder[List[Entry]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      def outputEncoder: Encoder[Seq[Entry]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** Untyped column for DataFrame groupBy: `top_k(3)(col_id, col_value)`
    * → array<struct<id,v>> in rank order. */
  def top_k(k: Int): (Column, Column) => Column = {
    val f = udaf(of(k), Encoders.product[Entry])
    (id: Column, v: Column) => f.apply(id, v)
  }

  /** [[mergeK]] with SET semantics: equal (id, v) pairs collapse to one
    * slot. This is what makes the buffer a k-MINIMUM-VALUES sketch (a
    * duplicate hash must not consume an order-statistic slot) and lets
    * the aggregate run over RAW duplicate-bearing streams with no
    * upstream `distinct` — the dedup state IS the k-bounded buffer. */
  private def mergeKDistinct(k: Int, a: List[Entry],
      b: List[Entry]): List[Entry] = {
    @annotation.tailrec
    def go(x: List[Entry], y: List[Entry], acc: List[Entry],
        n: Int): List[Entry] =
      if (n == 0) acc.reverse
      else (x, y) match {
        case (Nil, Nil) => acc.reverse
        case (h :: t, Nil) => go(t, Nil, h :: acc, n - 1)
        case (Nil, h :: t) => go(Nil, t, h :: acc, n - 1)
        case (hx :: tx, hy :: ty) =>
          if (hx.id == hy.id &&
              java.lang.Double.compare(hx.v, hy.v) == 0)
            go(tx, y, acc, n) // duplicate: consume one side, no slot
          else if (lt(hx, hy)) go(tx, y, hx :: acc, n - 1)
          else go(x, ty, hy :: acc, n - 1)
      }
    go(a, b, Nil, k)
  }

  def ofDistinct(k: Int): Aggregator[Entry, List[Entry], Seq[Entry]] =
    new Aggregator[Entry, List[Entry], Seq[Entry]] {
      def zero: List[Entry] = Nil
      def reduce(buf: List[Entry], e: Entry): List[Entry] =
        mergeKDistinct(k, buf, e :: Nil)
      def merge(a: List[Entry], b: List[Entry]): List[Entry] =
        mergeKDistinct(k, a, b)
      def finish(buf: List[Entry]): Seq[Entry] = buf
      def bufferEncoder: Encoder[List[Entry]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      def outputEncoder: Encoder[Seq[Entry]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** Set-semantics bounded top-k: `top_k_distinct(3)(col_id, col_value)`
    * → array<struct<id,v>>, duplicates never consuming a slot. */
  def top_k_distinct(k: Int): (Column, Column) => Column = {
    val f = udaf(ofDistinct(k), Encoders.product[Entry])
    (id: Column, v: Column) => f.apply(id, v)
  }

  /** [[Entry]] plus a payload — lets a bounded top-k carry a measure
    * column through the aggregate instead of joining it back afterwards
    * (a streaming aggregation cannot join back to its own input at all,
    * and batch saves the join). The payload does not influence the RANK
    * but is the FINAL tie-break: without it, two inputs with identical
    * (id, v) but different w would keep whichever arrived second in the
    * merge tree — a partitioning-dependent result. */
  final case class EntryW(id: Long, v: Double, w: Long)

  private def ltW(a: EntryW, b: EntryW): Boolean =
    if (java.lang.Double.compare(a.v, b.v) != 0 || a.id != b.id)
      lt(Entry(a.id, a.v), Entry(b.id, b.v))
    else a.w < b.w

  private def mergeKW(k: Int, a: List[EntryW], b: List[EntryW]): List[EntryW] = {
    @annotation.tailrec
    def go(x: List[EntryW], y: List[EntryW], acc: List[EntryW],
        n: Int): List[EntryW] =
      if (n == 0) acc.reverse
      else (x, y) match {
        case (Nil, Nil) => acc.reverse
        case (h :: t, Nil) => go(t, Nil, h :: acc, n - 1)
        case (Nil, h :: t) => go(Nil, t, h :: acc, n - 1)
        case (hx :: tx, hy :: ty) =>
          if (ltW(hx, hy)) go(tx, y, hx :: acc, n - 1)
          else go(x, ty, hy :: acc, n - 1)
      }
    go(a, b, Nil, k)
  }

  def ofW(k: Int): Aggregator[EntryW, List[EntryW], Seq[EntryW]] =
    new Aggregator[EntryW, List[EntryW], Seq[EntryW]] {
      def zero: List[EntryW] = Nil
      def reduce(buf: List[EntryW], e: EntryW): List[EntryW] =
        mergeKW(k, buf, e :: Nil)
      def merge(a: List[EntryW], b: List[EntryW]): List[EntryW] =
        mergeKW(k, a, b)
      def finish(buf: List[EntryW]): Seq[EntryW] = buf
      def bufferEncoder: Encoder[List[EntryW]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      def outputEncoder: Encoder[Seq[EntryW]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** `top_k_w(3)(col_id, col_value, col_payload)` →
    * array<struct<id,v,w>> in (v desc, id asc) rank order. */
  def top_k_w(k: Int): (Column, Column, Column) => Column = {
    val f = udaf(ofW(k), Encoders.product[EntryW])
    (id: Column, v: Column, w: Column) => f.apply(id, v, w)
  }
}
