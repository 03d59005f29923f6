package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Client-side convenience facade with the reference's query surface
  * (CountSummary.java / Queries.java / TupleComparators.java):
  * getCount, actionsForSubj, countsForSubjAction, sumCounts,
  * tuplesForSubjAction with the six comparator orderings.
  *
  * A reference user's call sites port 1:1. The view collects the
  * (small) per-subject slices it needs from the distributed count
  * state; the DataFrame API in `graft.core.CountQueries` remains the
  * scale path for whole-cache queries - this is the "app reads the
  * summarized data from the CacheServer" half of the reference's
  * contract (protocols.clj), not an execution strategy.
  *
  * Reference: /root/reference/src-java/streamsum/tuple_counts/
  * CountSummary.java, Queries.java, TupleComparators.java;
  * query_api.clj CountSummaryImpl.
  */
class CountSummaryView(state: DataFrame) {

  /** [obj count time]; absent key → (o, 0, None) ≙ [obj 0 nil]. */
  def getCount(s: Long, a: String, o: Long): (Long, Long, Option[Long]) =
    state.filter(col("s") === s && col("a") === a && col("o") === o)
      .select(col("cnt"), col("last_t"))
      .collect().headOption
      .map(r => (o, r.getLong(0), Some(r.getLong(1))))
      .getOrElse((o, 0L, None))

  /** Distinct actions for one subject; may be empty, never null. */
  def actionsForSubj(s: Long): Seq[String] =
    state.filter(col("s") === s).select(col("a")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  /** Per-object [obj Σcount max-time] merged across the actions
    * (merge-leaves semantics). Empty action list = all actions,
    * matching countsForSubjAction's varargs contract.
    */
  def countsForSubjAction(s: Long, actions: String*): Seq[(Long, Long, Long)] = {
    val base = state.filter(col("s") === s)
    val filtered =
      if (actions.isEmpty) base else base.filter(col("a").isin(actions: _*))
    filtered.groupBy(col("o"))
      .agg(sum(col("cnt")).as("cnt"), max(col("last_t")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
  }

  def sumCounts(s: Long): Long = sumCounts(s, Seq.empty: _*)

  def sumCounts(s: Long, actions: String*): Long = {
    val base = state.filter(col("s") === s)
    val filtered =
      if (actions.isEmpty) base else base.filter(col("a").isin(actions: _*))
    filtered.agg(coalesce(sum(col("cnt")), lit(0L))).collect().head.getLong(0)
  }

  /** Flattened (s, a, o, count, time) tuples for the subject/actions
    * filter (null subject = all), ordered by one of the six
    * TupleComparators variants; `Ordering.unsorted` ≙ null comparator.
    *
    * Guardrail: an all-subjects call (s = None) collects the whole
    * count state to the driver, so it is bounded by `maxRows`
    * (CountSummaryView.AllSubjectsMaxRows by default) and fails fast
    * with a pointer to the DataFrame API when the state is bigger -
    * the facade is for per-subject slices; whole-cache scans belong in
    * `CountQueries.sortedVariantsFrom`/`tuplesSortedFrom`.
    */
  def tuplesForSubjAction(ordering: CountSummaryView.TupleOrdering,
                          s: Option[Long],
                          actions: String*): Seq[(Long, String, Long, Long, Long)] =
    tuplesForSubjAction(ordering, s,
      CountSummaryView.AllSubjectsMaxRows, actions: _*)

  def tuplesForSubjAction(ordering: CountSummaryView.TupleOrdering,
                          s: Option[Long], maxRows: Int,
                          actions: String*): Seq[(Long, String, Long, Long, Long)] = {
    val bySubj = s.map(v => state.filter(col("s") === v)).getOrElse(state)
    val filtered = if (actions.isEmpty) bySubj
      else bySubj.filter(col("a").isin(actions: _*))
    val bounded =
      if (s.isDefined) filtered else filtered.limit(maxRows + 1)
    val rows = bounded
      .select(col("s"), col("a"), col("o"), col("cnt"), col("last_t"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    require(s.isDefined || rows.size <= maxRows,
      s"all-subjects tuplesForSubjAction exceeds $maxRows rows; " +
        "use CountQueries.tuplesSortedFrom/sortedVariantsFrom (the " +
        "distributed path) for whole-cache scans")
    ordering.sort(rows)
  }
}

/** The facade served straight off a published
  * [[graft.sinks.BucketedSnapshotCacheSink]]: `getCount` - the
  * reference's primary serving op, `getMap(name).get(key)`
  * (src-java/streamsum/TupleCache.java:20) - goes through the sink's
  * `lookup`, so a point read runs no Spark job and builds no
  * DataFrame: the driver decodes the key's home base bucket file plus
  * the pending delta files, the bytes one pruned scan task would read.
  * Building the view runs no job either - the sink's reads take the
  * schema from its layout file and their files from a driver listing.
  * The per-subject slice queries (actionsForSubj,
  * countsForSubjAction, sumCounts, tuplesForSubjAction) key on `s`
  * alone - a strict prefix the (cache, s, a, o) hash cannot prune -
  * so they fall back to the full-relation view they always used;
  * point reads are where the reference's serving traffic concentrates
  * and where 1/numBuckets pruning pays.
  *
  * `sinkName` is the sink-level cache id the publish ran under;
  * `cache` is the `cache` column value this view scopes to (one sink
  * relation can multiplex several configured caches).
  */
final class SinkCountSummaryView(
    spark: org.apache.spark.sql.SparkSession,
    sink: graft.sinks.BucketedSnapshotCacheSink,
    sinkName: String, cache: String)
  extends CountSummaryView(
    sink.get(spark, sinkName).filter(col("cache") === cache)
      .select(col("s"), col("a"), col("o"), col("cnt"), col("last_t"))) {

  override def getCount(s: Long, a: String,
                        o: Long): (Long, Long, Option[Long]) =
    sink.lookup(spark, sinkName, Seq(Seq(cache, s, a, o))).headOption
      .map(r => (o, r.getAs[Long]("cnt"), Some(r.getAs[Long]("last_t"))))
      .getOrElse((o, 0L, None))
}

object CountSummaryView {

  /** Driver-side budget for all-subjects facade calls. */
  val AllSubjectsMaxRows: Int = 100000

  type Tuple5L = (Long, String, Long, Long, Long)

  /** ≙ TupleComparators factory methods. */
  sealed abstract class TupleOrdering(
      key: Tuple5L => (Long, Long), ascending: Boolean) {
    def sort(rows: Seq[Tuple5L]): Seq[Tuple5L] = {
      val sorted = rows.sortBy(key)
      if (ascending) sorted else sorted.reverse
    }
  }
  case object Unsorted extends TupleOrdering(_ => (0L, 0L), true) {
    override def sort(rows: Seq[Tuple5L]): Seq[Tuple5L] = rows
  }
  final case class ByTime(ascending: Boolean)
    extends TupleOrdering(r => (r._5, 0L), ascending)
  final case class ByCount(ascending: Boolean)
    extends TupleOrdering(r => (r._4, 0L), ascending)
  final case class ByCountTime(ascending: Boolean)
    extends TupleOrdering(r => (r._4, r._5), ascending)
}
