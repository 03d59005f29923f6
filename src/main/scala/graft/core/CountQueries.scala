package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** The reference's count-cache query API
  * (/root/reference/src-clj/streamsum/tuple_counts/query_api.clj and the
  * Java interfaces CountSummary/Queries/TupleComparators), re-expressed
  * as DataFrame transformations over the count-cache state
  * (`Caches.countState` ≙ the nested {s {a {o [count t]}}} structure,
  * flattened relationally).
  *
  * Every function returns a DataFrame - no driver-side collect - so the
  * same API scales from a point lookup to a full-cache scan; Catalyst
  * pushes the subject/action filters into the aggregation upstream.
  * The `…From(state)` variants run against any count-state relation
  * (schema: s, a, o, cnt, last_t); the (spark, sfDir) variants derive
  * the state from the events table first.
  */
object CountQueries {

  private def counts(spark: SparkSession, sfDir: String): DataFrame =
    Caches.countState(Transform.transformed(spark, sfDir)).drop("cache")

  /** CountSummary.getCount(s,a,o): point lookup; absent keys surface as
    * [o 0 null], ≙ query_api.clj CountSummaryImpl.getCount's
    * (new-CountTriple obj [0 nil]).
    */
  def getCountFrom(state: DataFrame, s: Long, a: String, o: Long): DataFrame = {
    val key = state.sparkSession.range(1).select(
      lit(s).as("s"), lit(a).as("a"), lit(o).as("o"))
    key.join(state, Seq("s", "a", "o"), "left")
      .select(col("s"), col("a"), col("o"),
              coalesce(col("cnt"), lit(0L)).as("cnt"), col("last_t"))
  }

  def getCount(spark: SparkSession, sfDir: String,
               s: Long, a: String, o: Long): DataFrame =
    getCountFrom(counts(spark, sfDir), s, a, o)

  /** CountSummary.actionsForSubj: distinct actions per subject (exposed
    * for all subjects - the distributed generalization of the per-key
    * call; filter s to recover the point API).
    */
  def actionsForSubjFrom(state: DataFrame): DataFrame =
    state.select(col("s"), col("a")).distinct()

  def actionsForSubj(spark: SparkSession, sfDir: String): DataFrame =
    actionsForSubjFrom(counts(spark, sfDir))

  /** CountSummary.countsForSubjAction(s, actions...): per-object counts
    * merged across the selected actions - sum of counts, max of times,
    * ≙ query_api.clj `merge-leaves`/`counts-for-actions-map`.
    */
  def countsForSubjActionFrom(state: DataFrame,
                              actions: Seq[String]): DataFrame =
    state.filter(col("a").isin(actions: _*))
      .groupBy(col("s"), col("o"))
      .agg(sum(col("cnt")).as("cnt"), max(col("last_t")).as("last_t"))

  def countsForSubjAction(spark: SparkSession, sfDir: String,
                          actions: Seq[String]): DataFrame =
    countsForSubjActionFrom(counts(spark, sfDir), actions)

  /** CountSummary.sumCounts(s) and sumCounts(s, actions...): total event
    * count per subject, plus the action-filtered total in the same pass
    * (conditional aggregation instead of a second scan).
    */
  def sumCountsFrom(state: DataFrame, actions: Seq[String]): DataFrame =
    state.groupBy(col("s"))
      .agg(sum(col("cnt")).as("total"),
           sum(when(col("a").isin(actions: _*), col("cnt")).otherwise(0L))
             .as("filtered_total"))

  def sumCounts(spark: SparkSession, sfDir: String,
                actions: Seq[String]): DataFrame =
    sumCountsFrom(counts(spark, sfDir), actions)

  /** Queries.tuplesForSubjAction(comparator, subj, actions) with the
    * countTimeComparator(descending) of TupleComparators.java: the
    * flattened [s a o count time] tuples, count-desc then time-desc
    * (key columns break remaining ties deterministically).
    */
  def tuplesSortedFrom(state: DataFrame): DataFrame =
    state.select(col("s"), col("a"), col("o"), col("cnt"), col("last_t"))
      .orderBy(col("cnt").desc, col("last_t").desc,
               col("s"), col("a"), col("o"))

  def tuplesSorted(spark: SparkSession, sfDir: String): DataFrame =
    tuplesSortedFrom(counts(spark, sfDir))

  private val tieCols = Seq("s", "a", "o")

  /** All six TupleComparators orderings (time/count/count-time ×
    * asc/desc, TupleComparators.java) in one relation: each variant
    * tags its rows and ranks them. The reference's comparators define
    * no tie order; we pin determinism with the (s, a, o) key columns
    * running in the variant's direction - so each desc ordering is the
    * exact REVERSE of its asc partner, and one physical sort serves
    * both (rk_desc = N + 1 - rk_asc).
    */
  /** (asc name, desc name, sort keys) - each pair shares one sort;
    * the single source of truth for the variant list (`sortVariants`
    * and the oracle SQL expand from it).
    */
  val sortVariantPairs: Seq[(String, String, Seq[String])] = Seq(
    ("time_asc", "time_desc", Seq("last_t")),
    ("count_asc", "count_desc", Seq("cnt")),
    ("count_time_asc", "count_time_desc", Seq("cnt", "last_t")))

  val sortVariants: Seq[(String, Seq[org.apache.spark.sql.Column])] = {
    import org.apache.spark.sql.functions.{col => c}
    sortVariantPairs.flatMap { case (nameAsc, nameDesc, keys) =>
      Seq(nameAsc -> (keys ++ tieCols).map(c(_).asc),
          nameDesc -> (keys ++ tieCols).map(c(_).desc))
    }
  }

  /** Global rank without the global-window scale-killer: range
    * partition on the full (unique) order key, sort within partitions,
    * then offset partition-local indexes by the cumulative size of
    * earlier (range-ordered) partitions. A `Window.orderBy` with no
    * partitionBy funnels the whole relation through ONE task; this
    * computes the identical rank with the sort spread across all
    * partitions. The partition-size pass reuses the same shuffle output
    * as the data pass (one RDD lineage), so the partitioning the
    * offsets were computed from is exactly the partitioning the rows
    * carry - unlike a self-join on spark_partition_id(), where the two
    * sides may re-sample different range bounds.
    *
    * One ascending sort yields BOTH orderings of the pair: the total
    * order (keys, s, a, o) asc reversed is (keys, s, a, o) desc, so a
    * row at ascending rank i sits at descending rank N + 1 - i. Rows
    * stay in the Tungsten representation end to end
    * (`queryExecution.toRdd` in, `GraftBridge.ofInternalRows` out) -
    * no external-Row ser/de on either edge.
    */
  private def rankedPairGlobally(state: DataFrame, nameAsc: String,
                                 nameDesc: String,
                                 keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val spark = state.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val order = (keys ++ tieCols).map(col(_).asc)
    val sorted = state
      .select(col("s"), col("a"), col("o"), col("cnt"), col("last_t"))
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
    val inSchema = sorted.schema
    val outSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("ordering", StringType,
        nullable = false) +:
      org.apache.spark.sql.types.StructField("rk", LongType,
        nullable = false) +: inSchema.fields.toSeq)
    val rdd = sorted.queryExecution.toRdd
    // Long accumulation: Iterator.size returns Int, which would wrap on
    // a >2^31-row range partition and silently corrupt every rank
    val counts = rdd.mapPartitions { it =>
      var c = 0L
      while (it.hasNext) { it.next(); c += 1L }
      Iterator.single(c)
    }.collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val n = offsets.last
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      val ascTag = UTF8String.fromString(nameAsc)
      val descTag = UTF8String.fromString(nameDesc)
      var idx = offsets(pi)
      it.flatMap { ir =>
        // copy: unsafe-row iterators reuse the backing buffer
        val vals = ir.copy().toSeq(inSchema).toArray
        idx += 1
        Iterator[InternalRow](
          new GenericInternalRow(Array[Any](ascTag, idx) ++ vals),
          new GenericInternalRow(Array[Any](descTag, n - idx + 1L) ++ vals))
      }
    }
    org.apache.spark.sql.GraftBridge.ofInternalRows(spark, out, outSchema)
  }

  /** ALL SIX orderings in ONE range shuffle (the `longAxisRanks`
    * argument applied to the sort-variant family): each state row is
    * tagged into three skinny (axis, k1, k2, payload) rows whose
    * unified order (axis, k1, k2, s, a, o) restricted to an axis
    * reproduces that variant's exact total order — time ≙ (last_t, 0),
    * count ≙ (cnt, 0), count_time ≙ (cnt, last_t) — so one sampling
    * pass, one size pass and one shuffle replace three of each (the
    * per-pair loop paid a RangePartitioner sampling job + a size-pass
    * collect + a full exchange per pair, pure scheduler overhead at
    * key-tuple scale), and each descending rank is still N + 1 - asc.
    * The persist of the shared state is gone with the fan-out: the one
    * tagged relation is the single consumer, and its size and data
    * passes already share one shuffle lineage.
    */
  def sortedVariantsFrom(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val spark = state.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val nAxes = sortVariantPairs.length
    val tagged = state
      .select(col("s"), col("a"), col("o"), col("cnt"), col("last_t"))
      .select(expr(
        """explode(array(
          |  named_struct('axis', 0, 'k1', last_t, 'k2', CAST(0 AS BIGINT)),
          |  named_struct('axis', 1, 'k1', cnt,    'k2', CAST(0 AS BIGINT)),
          |  named_struct('axis', 2, 'k1', cnt,    'k2', last_t)))"""
          .stripMargin).as("t"),
        col("s"), col("a"), col("o"), col("cnt"), col("last_t"))
      .select(col("t.axis").as("axis"), col("t.k1").as("k1"),
        col("t.k2").as("k2"),
        col("s"), col("a"), col("o"), col("cnt"), col("last_t"))
    val order = Seq(col("axis").asc, col("k1").asc, col("k2").asc,
      col("s").asc, col("a").asc, col("o").asc)
    val sorted = tagged
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
    val inSchema = sorted.schema
    val payload = inSchema.fields.drop(3)
    val outSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("ordering", StringType,
        nullable = false) +:
      org.apache.spark.sql.types.StructField("rk", LongType,
        nullable = false) +: payload.toSeq)
    val rdd = sorted.queryExecution.toRdd
    // per-(partition, axis) row counts - Long accumulation (Int would
    // wrap past 2^31 rows per range partition and corrupt every rank)
    val stats = rdd.mapPartitions { it =>
      val c = new Array[Long](nAxes)
      while (it.hasNext) { c(it.next().getInt(0)) += 1L }
      Iterator.single(c)
    }.collect()
    val ns = (0 until nAxes).map(a => stats.map(_(a)).sum)
    val offsets = stats.scanLeft(new Array[Long](nAxes)) { (acc, c) =>
      Array.tabulate(nAxes)(a => acc(a) + c(a))
    }
    val names = sortVariantPairs.map { case (na, nd, _) => (na, nd) }
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      val ascTags = names.map(n => UTF8String.fromString(n._1)).toArray
      val descTags = names.map(n => UTF8String.fromString(n._2)).toArray
      val idx = offsets(pi).clone()
      it.flatMap { ir =>
        val a = ir.getInt(0)
        // copy: unsafe-row iterators reuse the backing buffer
        val vals = ir.copy().toSeq(inSchema).drop(3).toArray[Any]
        idx(a) += 1L
        Iterator[InternalRow](
          new GenericInternalRow(Array[Any](ascTags(a), idx(a)) ++ vals),
          new GenericInternalRow(
            Array[Any](descTags(a), ns(a) - idx(a) + 1L) ++ vals))
      }
    }
    org.apache.spark.sql.GraftBridge.ofInternalRows(spark, out, outSchema)
  }

  /** `Memo.releaseAll`, kept for the benchmark harness, which calls it. */
  def releaseAll(spark: SparkSession): Unit = Memo.releaseAll(spark)

  def sortedVariants(spark: SparkSession, sfDir: String): DataFrame =
    sortedVariantsFrom(counts(spark, sfDir))

  /** Distributed top-k per subject by (count desc, time desc) - the
    * scale-out form of sorting a subject's tuples with
    * countTimeComparator and taking the head: rank within each subject
    * partition, no global sort.
    */
  def topKPerSubjFrom(state: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("s"))
      .orderBy(col("cnt").desc, col("last_t").desc, col("a"), col("o"))
    state.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("s"), col("a"), col("o"), col("cnt"), col("last_t"),
              col("rk"))
  }

  def topKPerSubj(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    topKPerSubjFrom(counts(spark, sfDir), k)

  /** Top-k DISTINCT count values per subject with all their ties - the
    * dense_rank group-limit idiom. Written as the standard declarative
    * window; the engine-wide TopKWindowRewrite substitutes the
    * distinct-value-bounded operator (no per-key sort), which is what
    * this query exists to exercise under the driver's oracle gate.
    */
  def topKDensePerSubjFrom(state: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("s")).orderBy(col("cnt").desc)
    state.withColumn("rk", dense_rank().over(w))
      .filter(col("rk") <= k)
      .select(col("s"), col("a"), col("o"), col("cnt"), col("last_t"),
        col("rk").cast(LongType).as("rk"))
      .orderBy(col("s"), col("rk"), col("a"), col("o"))
  }

  def topKDensePerSubj(spark: SparkSession, sfDir: String,
                       k: Int = 2): DataFrame =
    topKDensePerSubjFrom(counts(spark, sfDir), k)

  /** Pipeline metrics ≙ protocols.clj `Metrics` callbacks: counters per
    * processing stage plus per-cache recorded counts, as a single
    * relational result.
    */
  def metrics(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Graft.table(spark, sfDir, "events")
    val tuples = Transform.extract(spark, sfDir)
    val xf = Transform(tuples)
    val stage = events.agg(count(lit(1)).as("n"))
      .select(lit("events-received").as("metric"), col("n"))
      .unionAll(tuples.agg(count(lit(1)).as("n"))
        .select(lit("tuples-extracted").as("metric"), col("n")))
      .unionAll(xf.agg(count(lit(1)).as("n"))
        .select(lit("tuples-transformed").as("metric"), col("n")))
    val perCache = xf.groupBy(col("cache")).agg(count(lit(1)).as("n"))
      .select(concat(lit("recorded-"), col("cache")).as("metric"), col("n"))
    stage.unionAll(perCache)
  }

  /** Encode hook ≙ protocols.clj `Encode`: final transformation of the
    * output tuple stream [cache key val time] into an app-facing
    * representation (here a stable delimited string, the analog of the
    * reference's pluggable encoder), in deterministic stream order.
    */
  def encodeOutput(spark: SparkSession, sfDir: String): DataFrame =
    Transform.transformed(spark, sfDir)
      .select(col("seq"), col("cache"),
        concat_ws("|", col("cache"), col("k"),
          coalesce(col("a"), lit("-")), col("v"), col("t").cast(StringType))
          .as("encoded"))
}
