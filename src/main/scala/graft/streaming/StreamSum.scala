package graft.streaming

import graft.core.{CountK, Config, Graft, LastN, Memo, Transform}
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Structured Streaming face of the engine ≙ the reference's live
  * pipeline (system.clj: queue → transform → record). The SAME
  * Transform/Config drives batch and stream; the cache states become
  * stateful streaming aggregations:
  *
  *   - count cache  → windowless streaming groupBy aggregation
  *                    (update/complete), state linear in #keys;
  *   - last-N cache → flatMapGroupsWithState with a bounded ring-buffer
  *                    state per key ≙ LastNCache (caches.clj:55);
  *   - in-q/out-q   → `fileStream`/writeStream; the memory sink here is
  *                    the test harness stand-in for the CacheServer
  *                    sink (production: parquet/kafka/foreachBatch).
  *
  * Tuple time `t` is the event time; a real deployment adds
  * `.withWatermark` on it - with AvailableNow over static files there is
  * no lateness, keeping results deterministic and oracle-comparable.
  */
object StreamSum {

  final case class XfRow(cache: String, k: Long, a: String, v: Long,
                         t: Long, seq: Long)
  final case class LastNOut(cache: String, k: Long, v: Long, t: Long,
                            rn: Long)
  /** LastNOut plus the key's monotone op count: Update-mode sinks hold
    * one buffer snapshot per key PER micro-batch, and `ops` is what
    * lets a consumer select the latest one when the source delivers
    * multiple batches.
    */
  final case class LastNSnap(cache: String, k: Long, v: Long, t: Long,
                             rn: Long, ops: Long)

  private[streaming] def streamingEvents(spark: SparkSession, sfDir: String): DataFrame =
    fileStream(spark, sfDir, "events.parquet")

  /** The `glob` files landing in `dir` as a stream - the one way a
    * landing directory becomes a stream. The schema is the one Spark
    * would infer, read from one footer on the driver, so building the
    * stream runs no job.
    */
  private[graft] def fileStream(spark: SparkSession, dir: String,
                                glob: String): DataFrame = {
    Graft.ensureConf(spark)
    val schema = GraftBridge.parquetSchema(spark, dir,
      Map("pathGlobFilter" -> glob))
    spark.readStream.schema(schema).option("pathGlobFilter", glob)
      .parquet(dir)
  }

  /** Run `df` to completion as one `AvailableNow` query, handing each
    * micro-batch and its id to `perBatch` - the one run loop of every
    * publish and store catch-up. With a `checkpoint`, successive calls
    * process only what arrived since the last one.
    */
  private[graft] def drain(df: DataFrame, mode: OutputMode,
                           checkpoint: Option[String])
                          (perBatch: (DataFrame, Long) => Unit): Unit = {
    val w = df.writeStream.outputMode(mode).foreachBatch(perBatch)
    checkpoint.fold(w)(cp => w.option("checkpointLocation", cp))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }

  /** Run `df` to completion into a memory-sink table and read it back.
    * The memory sink pins its collected rows in driver heap for as long
    * as the temp view holds the plan - harmless for a single gated
    * query, but a multi-pass bench accumulates 100+ tables (several
    * holding complete-mode state snapshots) and the resulting GC
    * pressure lands on whichever stateful query runs late in the sweep
    * (r9's 96s ss_stream_count_sink sf3 outlier vs 7.8s isolated). So
    * each view is a session-scoped `Memo` entry, dropped by
    * `Memo.releaseAll`; callers must have materialized any DataFrame
    * a streaming face returned before that.
    */
  private[streaming] def runToTable(df: DataFrame, mode: OutputMode,
                                    prefix: String): DataFrame = {
    val name = s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Memo(q.sparkSession, Memo.session, ("harness", name))(Memo.TempView(name))
    q.sparkSession.table(name)
  }

  /** Count cache as a streaming aggregation; with AvailableNow over the
    * static table the final snapshot equals the batch `countState` - the
    * stream/batch parity the declarative formulation buys us.
    */
  def streamCountState(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(countsOf(streamingEvents(spark, sfDir)),
      OutputMode.Complete(), "ss_stream_count")
      .orderBy(col("cache"), col("s"), col("a"), col("o"))

  /** Associative cache (last write wins) as a streaming aggregation:
    * max over the (t, seq, v) struct - the same declarative state as
    * the batch assocState, maintained incrementally.
    */
  def streamAssocState(spark: SparkSession, sfDir: String): DataFrame = {
    val xf = Transform(Transform.extractFrom(streamingEvents(spark, sfDir)))
    val assoc = xf
      .filter(col("cache").isin(Config.cachesOf(graft.core.Assoc): _*))
      .groupBy(col("cache"), col("k"))
      .agg(max(struct(col("t"), col("seq"), col("v"))).as("m"))
      .select(col("cache"), col("k"), col("m.v").as("v"), col("m.t").as("t"))
    runToTable(assoc, OutputMode.Complete(), "ss_stream_assoc")
      .orderBy(col("cache"), col("k"))
  }

  /** KeyCount cache (the example config's extended kind) as a
    * streaming aggregation: updates per key across the whole
    * transformed tuple stream - with this, every registered cache KIND
    * (assoc, lastn, count, keycount) has a streaming face.
    */
  def streamKeycountState(spark: SparkSession, sfDir: String): DataFrame = {
    val xf = Transform(Transform.extractFrom(streamingEvents(spark, sfDir)))
    val kc = xf.groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("subject-counts").as("cache"), col("k"), col("cnt"))
    runToTable(kc, OutputMode.Complete(), "ss_stream_keycount")
      .orderBy(col("k"))
  }

  /** Session windows, natively: `session_window` merges events with
    * < 30-minute gaps - the declarative form of the batch lag/gap
    * sessionization (`Tpch.qSessionize`), maintained incrementally with
    * watermark-bounded state. window.end is last-event-time + gap by
    * definition, so the batch oracle reconstructs it as max(t) + gap.
    */
  def streamSessionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val tuples = Transform.extractFrom(streamingEvents(spark, sfDir))
      .withColumn("ets", timestamp_micros(col("t")))
    val sessions = tuples
      .withWatermark("ets", "1 hour")
      .groupBy(col("s"), session_window(col("ets"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("s").as("user_id"),
        unix_micros(col("w.start")).as("start_t"),
        unix_micros(col("w.end")).as("end_plus_gap"),
        col("n_events"))
    runToTable(sessions, OutputMode.Complete(), "ss_stream_sessions")
      .orderBy(col("user_id"), col("start_t"))
  }

  /** Streaming face of the interval-overlap concurrency count,
    * sharing `q_session_overlap`'s oracle: the state is the native
    * session-window aggregation (exactly `ss_stream_sessions`' face —
    * window.end is last-event + gap, so the batch end_t reconstructs
    * as end_plus_gap − gap, and the per-user ordinal is a rank over
    * the snapshot); the tiled self-join is an evolving-answer
    * quantity (one arriving event can extend a session into new
    * overlaps, or MERGE two sessions — renumbering every later
    * ordinal), so the whole overlap relation is a query-time view
    * through the batch face's shared `overlapFrom`.
    */
  def streamSessionOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    // RAW events (user_id, ts), exactly the batch face's input - the
    // tuple extraction's props filter must not narrow the session set.
    // (Exact-gap boundary: session_window merges strictly-closer-than-
    // gap events where the batch rule keeps <= gap together - the same
    // µs-resolution non-issue the gated ss_stream_sessions face
    // already rides; an exact 30-minute-to-the-µs gap never occurs.)
    val ev = streamingEvents(spark, sfDir)
      .select(col("user_id"), expr("graft_ts_us(ts)").as("t"))
      .withColumn("ets", timestamp_micros(col("t")))
    val sessions = ev
      .withWatermark("ets", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ets"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_t"),
        unix_micros(col("w.end")).as("end_plus_gap"))
    val snap = runToTable(sessions, OutputMode.Complete(),
      "ss_stream_session_overlap")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("start_t"))
    graft.analytics.Tpch.overlapFrom(snap
      .withColumn("session_id",
        org.apache.spark.sql.functions.row_number().over(wOrd)
          .cast("long"))
      .select(col("user_id"), col("session_id"), col("start_t"),
        (col("end_plus_gap") - lit(graft.analytics.Tpch.sessionGapUs))
          .as("end_t")))
  }

  /** Streaming dedup: first-seen (subject, object) pairs via
    * dropDuplicates with stream state ≙ an exact-dedup pass over an
    * unbounded stream. Output restricted to the dedup key so the
    * result is order-independent.
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val distinctPairs = Transform.extractFrom(streamingEvents(spark, sfDir))
      .select(col("s"), col("o"))
      .dropDuplicates("s", "o")
    runToTable(distinctPairs, OutputMode.Append(), "ss_stream_dedup")
      .orderBy(col("s"), col("o"))
  }

  /** Streaming decontamination: documents arriving as a stream are
    * flagged against the (static) benchmark's n-gram set - the online
    * admission face of `pipe_decontaminate`, sharing its oracle. The
    * plan-time Bloom filter (memoized in CorpusOps) prunes clean docs
    * inside the micro-batch with the codegen'd `graft_bloom_any`; only
    * maybe-hits explode their n-grams into the stream-static inner
    * join against the broadcast bench relation. State is just the
    * per-doc contamination aggregate - no corpus-sized stream state.
    */
  def streamDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.CorpusOps
    val (benchHashes, bloomBytes) = CorpusOps.benchBloomFor(spark, sfDir)
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val maybe = docs.filter(col("doc_id") >= CorpusOps.benchmarkDocs)
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= CorpusOps.decontamN)
      .select(col("doc_id"), expr(CorpusOps.gramHashesExpr).as("ghs"))
      .filter(call_function("graft_bloom_any",
        lit(bloomBytes), col("ghs")))
    val benchDf = spark.createDataset(benchHashes.toSeq)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("h")
    val contaminated = maybe
      .select(col("doc_id"), explode(col("ghs")).as("h"))
      .join(broadcast(benchDf), Seq("h")) // stream-static inner join
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val contamTable = runToTable(contaminated.select(col("doc_id")),
      OutputMode.Update(), "ss_stream_decont").distinct()
    Graft.table(spark, sfDir, "documents")
      .filter(col("doc_id") >= CorpusOps.benchmarkDocs)
      .select(col("doc_id"))
      .join(contamTable.withColumn("is_contaminated", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Streaming quality gate against the EVOLVING corpus language
    * model - the online admission face of `pipe_quality_gate`, sharing
    * its oracle. Each arriving micro-batch folds its LM partials into
    * the incremental store and is immediately gated against the
    * store's CURRENT summed partials (`SignatureStore.admitLm` - the
    * admission verdict the pipeline acted on, persisted per batch);
    * the returned relation is the store's query-time re-scoring
    * (`storedQualityGate`), under which every document - however early
    * it arrived - is scored against the full final vocabulary, which
    * is exactly what the one-shot batch oracle computes. Signals,
    * scoring core and verdict rule are literally the batch functions,
    * so the faces cannot drift.
    */
  def streamQuality(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.SignatureStore
    val store = SignatureStore.tempDirForExit("graft_stream_lm")
    SignatureStore.admitLm(spark, sfDir, store, glob = "documents.parquet")
    SignatureStore.storedQualityGate(spark, store)
  }

  /** Streaming face of the curriculum ordering, sharing
    * `pipe_curriculum`'s oracle: the streamed state is the evolving LM
    * store's additive term partials + per-doc term multisets (the
    * admitLm discipline - the same state the quality faces carry), and
    * the ranking/staging is a query-time view through the batch
    * `curriculumFromNll` (one late document shifts the global LM, every
    * NLL, and thereby every stage cut - nothing about the order is
    * storable per batch).
    */
  def streamCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.SignatureStore
    val store = SignatureStore.tempDirForExit("graft_stream_curr")
    SignatureStore.admitLm(spark, sfDir, store, glob = "documents.parquet")
    val docTerms = SignatureStore.storedLmDocTerms(spark, store)
    graft.pipeline.CorpusOps.curriculumFromNll(
      SignatureStore.lmNllAgainstStore(spark, store, docTerms))
  }

  /** Streaming face of the readability scorer, sharing
    * `txt_readability`'s oracle: the scoring is ROW-LOCAL (three regex
    * counts + two closed formulas), so the stream is the identical
    * projection, final at arrival — Append mode, zero state. The
    * cheapest possible streaming contract, stated explicitly so the
    * family's spectrum (stateless → bounded ring → evolving view) has
    * its floor member.
    */
  def streamReadability(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fileStream(spark, sfDir, "documents.parquet")
    runToTable(graft.pipeline.TextAnalysis.readabilityFrom(docs),
      OutputMode.Append(), "ss_stream_readability")
      .orderBy(col("doc_id"))
  }

  /** Streaming fertility face, sharing `txt_fertility`'s oracle: the
    * per-doc (pred_lang, counts) projection is WITHIN-ROW (the in-row
    * argmax is the whole point), so arriving docs append final stats
    * with zero stream-side shuffles; the per-language report is a
    * query-time fold over the snapshot through the batch
    * `fertilityFromDocStats`.
    */
  def streamFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fileStream(spark, sfDir, "documents.parquet")
    graft.pipeline.TextAnalysis.fertilityFromDocStats(
      runToTable(graft.pipeline.TextAnalysis.fertilityDocStats(docs),
        OutputMode.Append(), "ss_stream_fertility"))
  }

  /** Streaming face of the Gini concentration, sharing `q_gini`'s
    * oracle: the streamed state is the per-user count — ONE
    * Complete-mode aggregation, a single long per user (the minimum
    * any exact concentration statistic can carry) — while the
    * statistic itself needs the GLOBAL sorted order, so it is a
    * query-time view through the batch face's shared `giniFromCounts`
    * (every arriving event re-ranks its user; no per-batch Gini could
    * ever be unioned).
    */
  def streamGini(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = streamingEvents(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
    val snap = runToTable(counts, OutputMode.Complete(), "ss_stream_gini")
    graft.analytics.Tpch.giniFromCounts(snap)
  }

  /** Streaming Lorenz curve, sharing `q_lorenz`'s oracle: the SAME
    * per-user Complete-mode count state as the gini face (the curve
    * is gini's integrand — one arriving event re-ranks globally, so
    * the deciles are a query-time view through `lorenzFromCounts`).
    */
  def streamLorenz(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = streamingEvents(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
    val snap = runToTable(counts, OutputMode.Complete(),
      "ss_stream_lorenz")
    graft.analytics.Tpch.lorenzFromCounts(snap)
  }

  /** Streaming Kruskal–Wallis, sharing `q_kruskal`'s oracle: the
    * streamed state is the per-(type, value) COUNT — one Complete-mode
    * aggregation — while the pooled ranks, the tie term and H are all
    * whole-corpus facts recomputed at query time through the shared
    * `kruskalFromCounts`.
    */
  def streamKruskal(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val vc = streamingEvents(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type").as("et"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
          .as("v_mu"))
      .groupBy(col("et"), col("v_mu"))
      .agg(count(lit(1)).as("c"))
    graft.analytics.Behavior.kruskalFromCounts(
      runToTable(vc, OutputMode.Complete(), "ss_stream_kruskal"))
  }

  /** Streaming Dunn post-hoc, sharing `q_dunn`'s oracle: the SAME
    * per-(type, value) Complete-mode count state the Kruskal face
    * streams (one landed fact, two views), with the pairwise readout
    * a query-time view through the shared `dunnFromCounts`.
    */
  def streamDunn(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val vc = streamingEvents(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type").as("et"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
          .as("v_mu"))
      .groupBy(col("et"), col("v_mu"))
      .agg(count(lit(1)).as("c"))
    graft.analytics.Behavior.dunnFromCounts(
      runToTable(vc, OutputMode.Complete(), "ss_stream_dunn"))
  }

  /** Streaming Mann–Whitney, sharing `q_mannwhitney`'s oracle: the
    * streamed state is the per-(cohort, value) COUNT — one
    * Complete-mode aggregation (the trimmed-mean face's posture on
    * the cohort axis) — while ranks, the tie correction and z are all
    * functions of the GLOBAL value order, so the test is a query-time
    * view through the shared `mannWhitneyFromCounts` (one arriving
    * value shifts every rank above it).
    */
  def streamMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val vc = streamingEvents(spark, sfDir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(pmod(col("user_id"), lit(2)).as("grp"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
          .as("v_mu"))
      .groupBy(col("grp"), col("v_mu"))
      .agg(count(lit(1)).as("c"))
    graft.analytics.Behavior.mannWhitneyFromCounts(
      runToTable(vc, OutputMode.Complete(), "ss_stream_mannwhitney"))
  }

  /** Streaming Kolmogorov–Smirnov, sharing `q_ks_test`'s oracle: the
    * SAME per-(cohort, value) Complete-mode count state as the
    * Mann–Whitney face — one stored relation, two test views — with
    * both ECDFs and the sup a query-time view through the shared
    * `ksFromCounts` (one arriving value moves every step above it).
    */
  def streamKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val vc = streamingEvents(spark, sfDir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(pmod(col("user_id"), lit(2)).as("grp"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
          .as("v_mu"))
      .groupBy(col("grp"), col("v_mu"))
      .agg(count(lit(1)).as("c"))
    graft.analytics.Behavior.ksFromCounts(
      runToTable(vc, OutputMode.Complete(), "ss_stream_ks"))
  }

  /** Streaming trimmed mean, sharing `q_trimmed_mean`'s oracle: the
    * streamed state is the per-(type, value) COUNT — one Complete-mode
    * aggregation, bounded by types × distinct micro-unit values (the
    * gini face's per-key-count posture on the value axis) — while the
    * trim needs each type's GLOBAL value order, so the report is a
    * query-time view through the shared `trimmedFromValueCounts`
    * (one arriving value shifts every rank above it; no per-batch
    * trim could ever be unioned).
    */
  def streamTrimmedMean(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val vc = streamingEvents(spark, sfDir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").as("v_mu"))
      .groupBy(col("event_type"), col("v_mu"))
      .agg(count(lit(1)).as("c"))
    graft.analytics.Tpch.trimmedFromValueCounts(
      runToTable(vc, OutputMode.Complete(), "ss_stream_trimmed_mean"))
  }

  /** Streaming face of the learned quality filter, sharing
    * `pipe_qclf_score`'s oracle: the streamed state is the
    * (doc, bucket) feature relation — ONE Complete-mode aggregation
    * (hashed contributions and the dense/bias entries fan out of the
    * same explode, so there is no agg/row-wise union the mode would
    * reject). At snapshot time the model RETRAINS from the arrived
    * training docs' features (the evolving-model contract: a training
    * doc arriving late changes every weight, so no weight is storable
    * state) and scores everything that has arrived — exactly the
    * one-shot batch train+score.
    */
  def streamQclf(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.QualityClassifier
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val feats = runToTable(QualityClassifier.featureRows(docs),
      OutputMode.Complete(), "ss_stream_qclf")
    val (w, _) = QualityClassifier.gdTrain(
      feats.filter(col("doc_id") < QualityClassifier.qclfTrainN))
    QualityClassifier.scoreFrom(feats, w)
  }

  /** How many bounded top-K shards the streaming weighted sample
    * maintains: state is shards x K rows total, and the final global
    * top-K merges shards x K rows - both independent of stream length.
    */
  val wsampleShards = 32

  /** Streaming weighted sampling: documents arriving as a stream
    * compete for the K sample seats online - the admission face of
    * `pipe_sample_weighted`, sharing its oracle. The per-document key
    * derivation is literally the batch function
    * (`CorpusOps.sampleWeightedFrom`), and the state is a bounded
    * top-K buffer per doc_id-shard (`TopKSampleAgg`: map-side trim, at
    * most 2K rows shipped per shard per batch). Exact streaming top-K
    * needs no approximation because the E-S key is per-row pure: the
    * final snapshot's shard-local winners merge into the same global
    * top-K the batch pass selects, whatever the arrival order.
    */
  def streamWeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.CorpusOps
    import spark.implicits._
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val keyed = CorpusOps.sampleWeightedFrom(docs)
      .as[(Long, Long, Double)]
    val agg = graft.functions.TopKSampleAgg(CorpusOps.wsampleK)
    val perShard = keyed.groupByKey(_._1 % wsampleShards)
      .agg(agg.toColumn.name("topk"))
    val snap = runToTable(perShard.toDF("shard", "topk"),
      OutputMode.Complete(), "ss_stream_wsample")
    snap.select(explode(col("topk")).as("r"))
      .select(col("r._1").as("doc_id"), col("r._2").as("weight"),
        col("r._3").as("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(CorpusOps.wsampleK)
  }

  /** Streaming admission face of the sketch-thresholded quality prune,
    * against the EVOLVING LM: arriving micro-batches fold their
    * partials into the incremental store (`admitLm`, which also
    * persists each batch's arrival-time admission verdicts), and the
    * final relation re-scores every stored document under the store's
    * current summed partials, re-derives the per-source histogram cuts
    * from those evolved scores, and assembles the verdict - so the
    * output is the one-shot batch prune over everything that has
    * arrived. Scoring (`lmNllAgainstStore`), binning (`nllBinned`) and
    * the verdict (`pruneAssemble`) are literally the batch/store
    * functions; shares `pipe_quality_prune`'s oracle.
    */
  def streamQualityPrune(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.{QualityGate, SignatureStore}
    val store = SignatureStore.tempDirForExit("graft_stream_qprune")
    SignatureStore.admitLm(spark, sfDir, store, glob = "documents.parquet")
    val docTerms = SignatureStore.storedLmDocTerms(spark, store)
    val nll = SignatureStore.lmNllAgainstStore(spark, store, docTerms)
    val docsB = Graft.table(spark, sfDir, "documents")
    val nb = QualityGate.nllBinned(docsB, nll)
    QualityGate.pruneAssemble(nb, QualityGate.pruneCuts(nb))
  }

  /** Streaming face of the KMV set-operations sketch: per-type k
    * smallest distinct hashes maintained as bounded streaming-agg
    * state (`MinKAgg` - duplicates dedup inside the k-buffer itself,
    * so exact KMV under an unbounded stream costs exactly k longs per
    * group; the reason streaming set-overlap is tractable at all).
    * The pairwise estimator over the final snapshot is the shared
    * `Sketches.kmvEstimates`; the exact overlap relation comes from
    * the static table, same as the other sketch faces - shares
    * `q_kmv_jaccard`'s oracle.
    */
  def streamKmv(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.analytics.Sketches
    import spark.implicits._
    val ev = fileStream(spark, sfDir, "events.parquet")
    val hashed = ev.select(col("event_type"),
        expr("graft_md5_48(CAST(user_id AS STRING))").as("h"))
      .as[(String, Long)]
    val agg = graft.functions.MinKAgg(Sketches.kmvK)
    val perType = hashed.groupByKey(_._1).mapValues(_._2)
      .agg(agg.toColumn.name("ks"))
    val snap = runToTable(perType.toDF("event_type", "ks"),
      OutputMode.Complete(), "ss_stream_kmv")
    val hs = Sketches.kmvHashes(Graft.table(spark, sfDir, "events"))
    Sketches.kmvExact(hs)
      .join(Sketches.kmvEstimates(snap), Seq("type_a", "type_b"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Streaming face of the retention curve: per-4h-bucket KMV buffers
    * maintained as bounded streaming-agg state (buckets x k longs -
    * the in-buffer dedup makes duplicates free, see `streamKmv`), and
    * the adjacent-pair overlap math runs over the final snapshot via
    * the shared `kmvPairMath`. The exact-overlap adjunct comes from
    * the static table. Shares `q_kmv_retention`'s oracle.
    */
  def streamKmvRetention(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.analytics.Sketches
    import spark.implicits._
    val bucketed = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(graft.pipeline.ParityMath.fdivSql("graft_ts_us(ts)", s"${Sketches.slideBucketUs}L")).as("b"),
        expr("graft_md5_48(CAST(user_id AS STRING))").as("h"))
      .as[(Long, Long)]
    val agg = graft.functions.MinKAgg(Sketches.kmvK)
    val perBucket = bucketed.groupByKey(_._1).mapValues(_._2)
      .agg(agg.toColumn.name("ks"))
    val km = runToTable(perBucket.toDF("b", "ks"),
      OutputMode.Complete(), "ss_stream_retention")
    val est = Sketches.kmvPairMath(
        km.toDF("b_prev", "ka").join(km.toDF("b_next", "kb"),
          col("b_next") === col("b_prev") + 1))
      .select(col("b_prev"), col("b_next"),
        col("kmv_jaccard"), col("kmv_union_est"))
    val hs = Graft.table(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(graft.pipeline.ParityMath.fdivSql("graft_ts_us(ts)", s"${Sketches.slideBucketUs}L")).as("b"),
        expr("graft_md5_48(CAST(user_id AS STRING))").as("h"))
      .distinct()
    val sizes = hs.groupBy(col("b")).agg(count(lit(1)).as("n"))
    val inter = hs.toDF("b_prev", "h").join(hs.toDF("b_next", "h2"),
        col("h") === col("h2") && col("b_next") === col("b_prev") + 1)
      .groupBy(col("b_prev"), col("b_next"))
      .agg(count(lit(1)).as("n_inter"))
    sizes.toDF("b_prev", "na").join(sizes.toDF("b_next", "nb"),
        col("b_next") === col("b_prev") + 1)
      .join(inter, Seq("b_prev", "b_next"), "left")
      .select(col("b_prev"), col("b_next"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        graft.pipeline.ParityMath.q6(
          coalesce(col("n_inter"), lit(0L)).cast("double")
            / (col("na") + col("nb")
              - coalesce(col("n_inter"), lit(0L))).cast("double"))
          .as("jaccard_exact"))
      .join(est, Seq("b_prev", "b_next"))
      .orderBy(col("b_prev"))
  }

  /** Last-N via the Spark 4 transformWithState API (RocksDB state
    * store) - same result as `streamLastnState`, current-generation
    * stateful operator.
    */
  def streamLastnTws(spark: SparkSession, sfDir: String,
                     n: Int = Config.lastNSize): DataFrame = {
    Graft.ensureConf(spark)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    val xf = Transform(Transform.extractFrom(streamingEvents(spark, sfDir)))
      .filter(col("cache").isin(Config.cachesOf(LastN): _*))
      .as[XfRow]
    val out = xf.groupByKey(r => (r.cache, r.k))
      .transformWithState(new LastNProcessor(n), TimeMode.None(),
        OutputMode.Update())
    latestLastnSnapshot(
      runToTable(out.toDF(), OutputMode.Update(), "ss_stream_lastn_tws"))
  }

  /** Watermarked stream-stream interval join: purchases followed by an
    * error for the same subject within one hour (funnel analysis).
    * Both sides carry watermarks so the join state is bounded by the
    * interval + lateness - the canonical two-stream join shape.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tuples = Transform.extractFrom(streamingEvents(spark, sfDir))
    val purchases = tuples.filter(col("p") === "purchase")
      .select(col("s").as("ps"), col("seq").as("p_seq"),
        timestamp_micros(col("t")).as("p_ets"))
      .withWatermark("p_ets", "1 hour")
    val errors = tuples.filter(col("p") === "error")
      .select(col("s").as("es"), col("seq").as("e_seq"),
        timestamp_micros(col("t")).as("e_ets"))
      .withWatermark("e_ets", "1 hour")
    val joined = purchases.join(errors,
      expr("""ps = es AND e_ets >= p_ets AND
              e_ets <= p_ets + INTERVAL 1 HOUR"""))
      .select(col("ps").as("s"), col("p_seq"), col("e_seq"))
    runToTable(joined, OutputMode.Append(), "ss_stream_join")
      .orderBy(col("s"), col("p_seq"), col("e_seq"))
  }

  /** Streaming face of the banded range join: event pairs within a
    * trailing 60 s window found online via a stream-stream self-join.
    * Spark refuses stream-stream joins without an equality predicate
    * (symmetric hash state needs a key), so the SAME banding rewrite
    * that saves the batch face from a nested loop is what makes the
    * streaming face plannable at all: the probe stream explodes into
    * its two consecutive delta-width buckets, the build stream keeps
    * its home bucket, the bucket id is the join key and the exact
    * range predicate + watermarks bound the join state to two bucket
    * widths per side. Pair counts are then assembled batch-side
    * (zero-match events restored), sharing `q_range_join`'s oracle.
    */
  def streamRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.analytics.RangeJoin
    val deltaUs = RangeJoin.deltaUs
    def evStream() = fileStream(spark, sfDir, "events.parquet")
      .select(col("event_id"), expr("graft_ts_us(ts)").as("t"))
    val probe = evStream()
      .withColumn("bkt0", expr(s"t DIV ${deltaUs}L"))
      .select(col("event_id"), col("t"),
        explode(array(col("bkt0"), col("bkt0") + 1)).as("bkt"))
      .withColumn("a_ets", timestamp_micros(col("t")))
      .withWatermark("a_ets", "1 hour")
    val build = evStream()
      .select(col("event_id").as("b_id"), col("t").as("bt"),
        expr(s"t DIV ${deltaUs}L").as("b_bkt"))
      .withColumn("b_ets", timestamp_micros(col("bt")))
      .withWatermark("b_ets", "1 hour")
    val pairs = probe.join(build,
      expr(s"""bkt = b_bkt AND
              |b_ets > a_ets AND
              |b_ets <= a_ets + INTERVAL ${deltaUs} MICROSECOND""".stripMargin))
      .select(col("event_id"), col("b_id"))
    val pairTable = runToTable(pairs, OutputMode.Append(),
      "ss_stream_range_join")
    val counts = pairTable.groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_next"))
    Graft.table(spark, sfDir, "events")
      .select(col("event_id"), expr("graft_ts_us(ts)").as("t"))
      .join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("t"),
        coalesce(col("n_next"), lit(0L)).as("n_next"))
      .orderBy(col("event_id"))
  }

  /** Streaming HLL: the sketch is WHY streaming distinct-count is
    * tractable - exact streaming countDistinct needs state per
    * distinct value (unbounded), while the register maxima are a
    * bounded groups x 512 rows of state maintained by an ordinary
    * streaming max aggregation. The estimator (shared with the batch
    * face, exact-in-double register sum) runs over the final register
    * snapshot; the exact count for the error column comes from the
    * batch relation. Shares `q_hll_distinct`'s oracle.
    */
  def streamHll(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.analytics.Sketches
    val li = fileStream(spark, sfDir, "lineitem.parquet")
      .select(col("l_returnflag"), col("l_orderkey"))
    val regs = Sketches.hashRho(li)
      .groupBy(col("l_returnflag"), col("reg"))
      .agg(max(col("rho")).as("mj"))
    val regTable = runToTable(regs, OutputMode.Complete(), "ss_stream_hll")
    val exact = Sketches.exactDistinct(
      Graft.table(spark, sfDir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey")))
    Sketches.estimate(regTable).join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"), col("hll_est"))
      .orderBy(col("l_returnflag"))
  }

  /** Streaming admission face of the span scrub: arriving documents
    * have their corpus-repeated spans removed online. The repeated-gram
    * set comes from the STATIC corpus (like `ss_stream_decont`'s bench
    * set) and joins the arriving docs' positional gram stream as a
    * stream-static broadcast join; per-doc streaming state is only the
    * COVERED positions (bounded by duplicated content, zero for clean
    * docs). Island merge + the in-row rewrite (shared with the batch
    * face) run over the final snapshot. Shares `pipe_span_scrub`'s
    * oracle.
    */
  def streamSpanScrub(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.Dedup
    val toksB = Dedup.spanToks(Graft.table(spark, sfDir, "documents"))
    val dup = Dedup.spanGrams(toksB)
      .groupBy(col("gh")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(col("gh"))
    val docsS = fileStream(spark, sfDir, "documents.parquet")
    val coveredS = Dedup.spanGrams(Dedup.spanToks(docsS))
      .join(dup, "gh")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("poss"))
    val covTable = runToTable(coveredS, OutputMode.Complete(),
      "ss_stream_span_scrub")
    Dedup.spanScrubAssemble(toksB,
      Dedup.islandsFromCovered(
        covTable.select(col("doc_id"), explode(col("poss")).as("pos"))))
  }

  /** Streaming quantile sketch: the fixed-bin histogram is the only
    * quantile form an incremental stream can maintain exactly - exact
    * streaming quantiles need every value retained, and rank-based
    * sketches (t-digest/GK) have order-dependent state that could
    * never match a batch oracle. Here the state is just the
    * (group, bin) counts - groups x occupied-bins rows under an
    * ordinary streaming count - and the estimator (shared with the
    * batch face) runs over the final snapshot. Shares
    * `q_qtile_sketch`'s oracle.
    */
  def streamQtile(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.analytics.Sketches
    val li = fileStream(spark, sfDir, "lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val counts = Sketches.qtileBins(li)
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val binTable = runToTable(counts, OutputMode.Complete(),
      "ss_stream_qtile")
    Sketches.qtileEstimate(binTable)
  }

  /** Streaming Count-Min sketch: like the HLL face, the sketch is what
    * makes the streaming form tractable - exact per-item frequency
    * state grows with the number of distinct items, while the counter
    * matrix is a FIXED d x w rows of state maintained by an ordinary
    * streaming count aggregation. The heavy-hitter probe (shared with
    * the batch face) runs over the final counter snapshot against the
    * static item relation. Shares `q_cms_topk`'s oracle.
    */
  def streamCms(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.analytics.Sketches
    val counters = Sketches.cmsCounters(
      streamingEvents(spark, sfDir).select(col("user_id")))
    val counterTable = runToTable(counters, OutputMode.Complete(),
      "ss_stream_cms")
    Sketches.cmsEstimate(counterTable,
      Graft.table(spark, sfDir, "events").select(col("user_id")))
  }

  /** Production sink path: stream the count-cache state into a
    * CacheSink snapshot per micro-batch via foreachBatch ≙ the
    * reference pushing recorded tuples at its CacheServer. Complete
    * mode: each batch publishes the full current state (idempotent
    * overwrite), so the sink always holds a consistent snapshot.
    *
    * Given a directory, this publishes into a versioned
    * `SnapshotCacheSink` (atomic manifest flip; a reader racing a
    * publish sees a complete old or new snapshot, never a torn one -
    * CacheSinkSpec pins the race) and returns it for serving reads. The
    * flagship publish is the update-mode `streamCountsToSinkUpdate`
    * into a [[graft.sinks.BucketedSnapshotCacheSink]].
    */
  def streamCountsToSink(spark: SparkSession, sfDir: String,
                         root: String,
                         cacheName: String): graft.sinks.SnapshotCacheSink = {
    val sink = new graft.sinks.SnapshotCacheSink(root)
    streamCountsToSink(spark, sfDir, sink, cacheName)
    sink
  }

  def streamCountsToSink(spark: SparkSession, sfDir: String,
                         sink: graft.sinks.CacheSink,
                         cacheName: String): Unit =
    drain(countsOf(streamingEvents(spark, sfDir)), OutputMode.Complete(),
      None) { (batch, _) => sink.put(cacheName, batch) }

  /** The count-cache state of an event stream, keyed on `countSinkKeys`. */
  private def countsOf(events: DataFrame): DataFrame =
    Transform(Transform.extractFrom(events))
      .filter(col("cache").isin(Config.cachesOf(CountK): _*))
      .groupBy(col("cache"), col("k").as("s"), col("a"), col("v").as("o"))
      .agg(count(lit(1)).as("cnt"), max(col("t")).as("last_t"))

  /** The merge keys of the two update-mode publish faces - also what
    * their default [[graft.sinks.BucketedSnapshotCacheSink]]s bucket on.
    */
  val countSinkKeys: Seq[String] = Seq("cache", "s", "a", "o")
  val lastnSinkKeys: Seq[String] = Seq("cache", "k")

  /** UPDATE-mode production publish: each micro-batch emits only the
    * keys whose counts CHANGED, and foreachBatch folds that delta into
    * the published snapshot via the sink's `mergeDelta` (key
    * replacement: previous state minus updated keys, plus the delta)
    * before the atomic version flip. This is the path whose cost a
    * 100 TB deployment pays per trigger - with the default
    * [[graft.sinks.BucketedSnapshotCacheSink]] that cost is O(delta)
    * (one delta-sized append; bucket-local compaction amortized),
    * where the plain `SnapshotCacheSink` fallback rewrites the whole
    * snapshot each call. The driver never materializes anything
    * (Complete mode ships the ENTIRE state into the driver-side
    * memory-sink harness, which is why the harness face benched with
    * the worst slope in the r6 anchor set and is replaced by this face
    * in the bench).
    *
    * `checkpoint` makes successive calls incremental (only new files
    * are processed - same contract as the SignatureStore catch-ups);
    * the merge is replay-idempotent because re-publishing an
    * already-merged delta leaves the snapshot unchanged.
    */
  def streamCountsToSinkUpdate(spark: SparkSession, sfDir: String,
                               sink: graft.sinks.DeltaCacheSink,
                               cacheName: String,
                               checkpoint: Option[String] = None,
                               glob: String = "events.parquet"): Unit =
    drain(countsOf(fileStream(spark, sfDir, glob)), OutputMode.Update(),
      checkpoint) { (batch, _) =>
      sink.mergeDelta(cacheName, batch, countSinkKeys)
    }

  /** Bench/gate face of the update-mode publish (`ss_stream_count_sink`):
    * publish through a [[graft.sinks.BucketedSnapshotCacheSink]] and
    * answer from the published snapshot - the number the bench reports
    * is the deployment path's, not the memory-sink harness's. Shares the
    * batch count-cache oracle.
    */
  def streamCountSinkState(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.pipeline.SignatureStore
      .tempDirForExit("graft_count_sink")
    // the deployment default is the O(delta) bucketed sink - what the
    // bench face prices is the path a 100 TB publish actually runs
    val sink = new graft.sinks.BucketedSnapshotCacheSink(
      root, countSinkKeys)
    streamCountsToSinkUpdate(spark, sfDir, sink, "interactions-count")
    sink.get(spark, "interactions-count")
      .orderBy(col("cache"), col("s"), col("a"), col("o"))
  }

  /** Gate face of the bucket-pruned point-read path
    * (`ss_sink_point_read`): publish the count cache as base + one
    * PENDING delta (base from the first-half events; every key
    * touched afterwards refreshed whole via `mergeDelta` - the
    * update-mode publish contract), then serve a deterministic 20-key
    * slice through [[graft.api.SinkCountSummaryView]].getCount, i.e.
    * through the sink's `lookup`: each read decodes ONE base bucket
    * file plus the pending delta files on the driver, with no Spark
    * job - never a full snapshot scan, and no read infers a schema (the
    * reference's `getMap(name).get(key)` serving shape,
    * src-java/streamsum/TupleCache.java:20). Oracle:
    * the batch count-cache state limited to the same 20 smallest
    * keys, so a lookup that missed the pending delta - or merged the
    * wrong version - mismatches.
    */
  def sinkPointReadState(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Graft.ensureConf(spark)
    val xf = Transform.transformed(spark, sfDir)
      .filter(col("cache").isin(Config.cachesOf(CountK): _*))
    val b = xf.agg(min(col("t")), max(col("t"))).head
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    // ONE keyed pass lands the full counts, the first-half counts and
    // the touched-after-split flag per key — full/base/changed used to
    // be three independent shuffles of the transformed stream; every
    // derived relation below reads the checkpointed key-sized state
    val state = xf
      .select(col("cache"), col("k").as("s"), col("a"),
        col("v").as("o"), col("t"), (col("t") <= mid).as("in1"))
      .groupBy(col("cache"), col("s"), col("a"), col("o"))
      .agg(count(lit(1)).as("cnt_full"), max(col("t")).as("last_t_full"),
        count(when(col("in1"), lit(1))).as("cnt_base"),
        max(when(col("in1"), col("t"))).as("last_t_base"),
        max(when(!col("in1"), lit(1))).as("touched2"))
      .localCheckpoint()
    val full = state.select(col("cache"), col("s"), col("a"), col("o"),
      col("cnt_full").as("cnt"), col("last_t_full").as("last_t"))
    val base = state.filter(col("cnt_base") > 0)
      .select(col("cache"), col("s"), col("a"), col("o"),
        col("cnt_base").as("cnt"), col("last_t_base").as("last_t"))
    // keys with post-split activity: their full-state rows ARE the
    // delta (key replacement - the same rows update mode would emit)
    val delta = full.join(state.filter(col("touched2") === 1)
        .select(col("cache"), col("s"), col("a"), col("o")),
      countSinkKeys, "left_semi")
    val root = graft.pipeline.SignatureStore
      .tempDirForExit("graft_point_read")
    // compactFrac huge: the delta STAYS pending, so every point read
    // exercises the base-bucket + filtered-delta merge
    val sink = new graft.sinks.BucketedSnapshotCacheSink(
      root, countSinkKeys, numBuckets = 16, compactFrac = 1e9)
    sink.put("pt", base)
    sink.mergeDelta("pt", delta, countSinkKeys)
    val targets = sink.get(spark, "pt")
      .orderBy(countSinkKeys.map(col): _*).limit(20)
      .select(countSinkKeys.map(col): _*).collect()
    // one facade point read pins the single-key serving path live...
    val t0 = targets.head
    val view = new graft.api.SinkCountSummaryView(
      spark, sink, "pt", t0.getString(0))
    val (_, cnt0, lastT0) =
      view.getCount(t0.getLong(1), t0.getString(2), t0.getLong(3))
    require(lastT0.isDefined && cnt0 > 0,
      "facade point read missed a published key")
    // ...and the batched MULTIGET serves the whole key list in one
    // driver read (distinct home buckets + pending deltas) as a local
    // relation
    val keyRows = targets.toSeq.map(r => Seq[Any](
      r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    sink.getKeys(spark, "pt", keyRows).coalesce(1) // driver rows: no exchange
      .orderBy(col("cache"), col("s"), col("a"), col("o"))
  }

  /** UPDATE-mode production publish of the last-N cache: the stream
    * emits per-key ring-buffer snapshots (with the key's monotone op
    * count); foreachBatch keeps each key's LATEST batch snapshot and
    * folds it into the published state by key replacement. Same
    * delta-plus-merge cost shape as `streamCountsToSinkUpdate`.
    */
  def streamLastnToSinkUpdate(spark: SparkSession, sfDir: String,
                              sink: graft.sinks.DeltaCacheSink,
                              cacheName: String,
                              n: Int = Config.lastNSize): Unit = {
    import spark.implicits._
    val xf = Transform(Transform.extractFrom(streamingEvents(spark, sfDir)))
      .filter(col("cache").isin(Config.cachesOf(LastN): _*))
      .as[XfRow]
    val out = xf.groupByKey(r => (r.cache, r.k))
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(lastnHandler(n))
    drain(out.toDF(), OutputMode.Update(), None) { (batch, _) =>
      // a key can emit several ring snapshots in one batch; only its
      // LATEST (max ops) one is the delta to fold
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cache"), col("k"))
      val latest = batch.withColumn("mx", max(col("ops")).over(w))
        .filter(col("ops") === col("mx")).drop("mx")
      sink.mergeDelta(cacheName, latest, lastnSinkKeys)
    }
  }

  /** Bench/gate face of the last-N update-mode publish
    * (`ss_stream_lastn_sink`); shares the batch last-N oracle.
    */
  def streamLastnSinkState(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.pipeline.SignatureStore
      .tempDirForExit("graft_lastn_sink")
    val sink = new graft.sinks.BucketedSnapshotCacheSink(
      root, lastnSinkKeys)
    streamLastnToSinkUpdate(spark, sfDir, sink, "interactions-lastn")
    sink.get(spark, "interactions-lastn")
      .select(col("cache"), col("k"), col("v"), col("t"),
        col("rn").cast(LongType).as("rn"))
      .orderBy(col("cache"), col("k"), col("rn"))
  }

  /** Event-time windowed aggregation with a watermark: tumbling 1-day
    * counts per predicate - the canonical Structured Streaming shape
    * (watermark bounds state; with AvailableNow over a static table the
    * snapshot equals the batch group-by on the floored time bucket,
    * which is what the oracle computes).
    */
  def streamWindowedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val tuples = Transform.extractFrom(streamingEvents(spark, sfDir))
      .withColumn("ets", timestamp_micros(col("t")))
    val agg = tuples
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 day").as("w"), col("p"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("w.start")).as("window_start"), col("p"),
        col("cnt"))
    runToTable(agg, OutputMode.Update(), "ss_stream_windowed")
      .orderBy(col("window_start"), col("p"))
  }

  final case class BandRow(doc_id: Long, b: Int, h: String)
  final case class CandPair(doc_a: Long, doc_b: Long)

  /** Streaming LSH candidate emission: each band bucket keeps the set
    * of doc_ids seen so far; a newly arriving document emits one
    * candidate pair per prior member of its bucket. The streaming twin
    * of the batch `Dedup.minhashLsh` self-join - per-bucket state is
    * bounded the way LSH bucket sizes are (band index in the key,
    * hash-uniform buckets), and each pair is emitted exactly once per
    * bucket as data arrives instead of via a corpus-wide join. Pairs
    * are normalized (min, max) so the result is arrival-order
    * independent; with AvailableNow over the static table the distinct
    * pair set equals the batch candidates (same oracle).
    */
  private def lshCandHandler(
      key: (Int, String), rows: Iterator[BandRow],
      state: GroupState[Set[Long]]): Iterator[CandPair] = {
    // Set-typed state: membership checks are O(1), so a hot bucket
    // costs O(|batch|) per batch instead of O(|bucket|·|batch|)
    val seen = state.getOption.getOrElse(Set.empty)
    val newIds = rows.map(_.doc_id).toSeq.distinct.filterNot(seen)
    val pairs = for {
      (nid, idx) <- newIds.zipWithIndex
      old <- seen.iterator ++ newIds.take(idx)
      if old != nid
    } yield CandPair(math.min(old, nid), math.max(old, nid))
    state.update(seen ++ newIds)
    pairs.iterator
  }

  /** The streamed LSH candidate snapshot (banded cells as keyed
    * state, append-only emission) — shared by the candidate face and
    * the edit-verify face.
    */
  private def lshCandSnapshot(spark: SparkSession, sfDir: String,
                              table: String): DataFrame = {
    import spark.implicits._
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val bands = graft.pipeline.Dedup.bandsFrom(
        graft.pipeline.Dedup.shinglesFrom(docs))
      .as[BandRow]
    val out = bands.groupByKey(r => (r.b, r.h))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(lshCandHandler)
    runToTable(out.toDF(), OutputMode.Append(), table).distinct()
  }

  def streamLshCandidates(spark: SparkSession, sfDir: String): DataFrame =
    lshCandSnapshot(spark, sfDir, "ss_stream_lsh_cand")
      .orderBy(col("doc_a"), col("doc_b"))

  /** Streaming edit-verify face, sharing `dd_edit_verify`'s oracle:
    * the streamed state is the SAME banded candidate cells as
    * `ss_stream_lsh_cand` (the verify is order-independent over any
    * candidate superset — the containmentVerify argument), with the
    * capped-prefix Levenshtein a query-time view over the snapshot.
    */
  def streamEditVerify(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.Dedup.editVerifyFrom(
      lshCandSnapshot(spark, sfDir, "ss_stream_edit"),
      graft.core.Graft.tableParallel(spark, sfDir, "documents"))

  final case class TokRow(doc_id: Long, sz: Long, h: Long)
  final case class DirCand(doc_a: Long, doc_b: Long)

  /** Shared-shingle containment candidates: the cell keeps every
    * (doc_id, size) carrying this shingle; an arriving doc emits a
    * DIRECTED candidate per prior member and direction that survives
    * the length bound (den·|index| ≥ num·|probe|). Same O(|batch|)
    * membership-check bound as `lshCandHandler`.
    */
  private def containCandHandler(
      key: Long, rows: Iterator[TokRow],
      state: GroupState[Map[Long, Long]]): Iterator[DirCand] = {
    import graft.pipeline.Dedup.{containmentDen => den, containmentNum => num}
    val seen = state.getOption.getOrElse(Map.empty[Long, Long])
    val fresh = rows.map(r => r.doc_id -> r.sz).toSeq.distinct
      .filterNot(kv => seen.contains(kv._1))
    val pairs = for {
      ((nid, nsz), idx) <- fresh.zipWithIndex
      (oid, osz) <- seen.iterator ++ fresh.take(idx)
      if oid != nid
      cand <- {
        val newProbe = // new doc probes the older index member
          if (den.toLong * osz >= num.toLong * nsz) Some(DirCand(nid, oid))
          else None
        val oldProbe = // the older doc probes the new index member
          if (den.toLong * nsz >= num.toLong * osz) Some(DirCand(oid, nid))
          else None
        newProbe.iterator ++ oldProbe.iterator
      }
    } yield cand
    state.update(seen ++ fresh)
    pairs.iterator
  }

  /** Streaming ADMISSION face of `dd_containment`: each arriving
    * document is checked for ≥90% shingle containment against the
    * corpus seen so far, in both directions. Candidates key on the RAW
    * shingle hash (the global-df rare-first prefix of the batch face
    * does not exist online - df is a corpus-wide statistic), so the
    * per-cell state is df-sized and the emitted candidate volume is
    * Σ_h df(h)² - the admission trade: more candidates, zero false
    * negatives, verify still bounded by the candidate count. The
    * verify is order-independent (`containmentVerify`), so the
    * admitted set converges to the batch face's exact relation and
    * shares its oracle. At 100 TB this face serves new-arrival
    * admission; full-corpus joins stay on the batch/store faces, whose
    * prefix prune needs the final df.
    */
  def streamContainment(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val toks = graft.pipeline.Dedup.shinglesFrom(docs)
      .select(col("doc_id"), size(col("hs")).cast(LongType).as("sz"),
        explode(col("hs")).as("h"))
      .as[TokRow]
    val out = toks.groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(containCandHandler)
    val cand = runToTable(out.toDF(), OutputMode.Append(),
      "ss_stream_containment").distinct()
    graft.pipeline.Dedup.containmentVerify(cand,
      graft.pipeline.SignatureStore.shingles(spark, sfDir)
        .select(col("doc_id"), col("hs")))
  }

  final case class EmbRow(vec_id: Long, label: Long, bucket: Long)
  final case class AnnCand(vec_a: Long, vec_b: Long, label: Long)

  /** Streaming ANN candidate emission over an embedding stream: the
    * (label, LSH bucket) cell keeps its member vec_ids; each arriving
    * vector emits one candidate pair per prior member - the streaming
    * face of `dd_embed_cosine`'s blocking (scoring/thresholding happens
    * downstream on the candidate stream). Same bounded-cell-state
    * argument as `streamLshCandidates`.
    */
  private def annCandHandler(
      key: (Long, Long), rows: Iterator[EmbRow],
      state: GroupState[Set[Long]]): Iterator[AnnCand] = {
    // Set-typed state, same O(|batch|) bound as lshCandHandler
    val seen = state.getOption.getOrElse(Set.empty)
    val newIds = rows.map(_.vec_id).toSeq.distinct.filterNot(seen)
    val pairs = for {
      (nid, idx) <- newIds.zipWithIndex
      old <- seen.iterator ++ newIds.take(idx)
      if old != nid
    } yield AnnCand(math.min(old, nid), math.max(old, nid), key._1)
    state.update(seen ++ newIds)
    pairs.iterator
  }

  /** Streaming embedding-drift monitor, sharing `emb_mmd`'s oracle:
    * the streamed state is the per-(cohort, dimension) micro-unit
    * component SUM + count — one Complete-mode aggregation bounded at
    * 2×dims rows, the smallest state any exact mean-embedding
    * statistic can carry — with the squared-distance fold a
    * query-time view through the shared `mmdFromDimSums` (every
    * arriving vector moves its cohort's mean on every axis).
    */
  def streamEmbMmd(spark: SparkSession, sfDir: String): DataFrame = {
    val ds = fileStream(spark, sfDir, "embeddings.parquet")
      .select(pmod(col("vec_id"), lit(2)).as("grp"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("grp"), col("pos").cast(LongType).as("pos"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) " +
          "AS BIGINT)").as("v_mu"))
      .groupBy(col("grp"), col("pos"))
      .agg(sum(col("v_mu")).as("s"), count(lit(1)).as("n"))
    graft.pipeline.Similarity.mmdFromDimSums(
      runToTable(ds, OutputMode.Complete(), "ss_stream_emb_mmd"))
  }

  /** Streaming face of the RFF RBF-MMD drift monitor, sharing
    * `emb_mmd_rbf`'s oracle: the state is the (cohort, feature)
    * cos-sum relation (2·D rows — additive, so a Complete-mode agg
    * over the mapped stream IS the batch fact), and the fold is a
    * query-time view through the shared `rbfMmdFromFeatureSums`.
    */
  def streamEmbMmdRbf(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = fileStream(spark, sfDir, "embeddings.parquet")
    graft.pipeline.Similarity.rbfMmdFromFeatureSums(
      runToTable(graft.pipeline.Similarity.rbfFeatureSums(vecs),
        OutputMode.Complete(), "ss_stream_emb_mmd_rbf"))
  }

  /** Streaming face of the sliced energy distance, sharing
    * `emb_energy`'s oracle: the state is the additive (dir, grp, p)
    * projection-count relation (values-sized), so a Complete-mode agg
    * over the mapped stream IS the batch fact and the rank-prefix
    * fold runs at query time through the shared
    * `energyFromProjCounts`.
    */
  def streamEmbEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = fileStream(spark, sfDir, "embeddings.parquet")
    graft.pipeline.Similarity.energyFromProjCounts(
      runToTable(graft.pipeline.Similarity.energyProjCounts(vecs),
        OutputMode.Complete(), "ss_stream_emb_energy"))
  }

  def streamAnnCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = fileStream(spark, sfDir, "embeddings.parquet")
    val keyed = emb.select(col("vec_id"), col("label").cast(LongType)
        .as("label"),
        expr(graft.pipeline.Similarity.bucketSpark("embedding"))
          .as("bucket"))
      .as[EmbRow]
    val out = keyed.groupByKey(r => (r.label, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(annCandHandler)
    runToTable(out.toDF(), OutputMode.Append(), "ss_stream_ann_cand")
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Streaming face of BM25 retrieval, sharing `txt_bm25`'s oracle:
    * the per-doc state is SEVEN longs (dl + the five query-term
    * counts, maintained by an ordinary streaming max-agg over the
    * narrow per-doc features) - docs are immutable so arrival order
    * cannot perturb it. Everything corpus-wide is a view over the
    * snapshot: N/S/df/idf and the bounded top-k all recompute at
    * query time (idf is an evolving-answer quantity - one arriving
    * doc shifts every score - so storing scores would be wrong, the
    * same contract as the trending/skyline matrix views), through
    * literally the batch face's bm25FromParts/bm25Report.
    */
  def streamBm25(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.TextAnalysis
    val terms = TextAnalysis.bm25QueryTerms
    val arriving = fileStream(spark, sfDir, "documents.parquet")
    val cCols = terms.zipWithIndex.map { case (t, i) =>
      expr(s"CAST(size(filter(toks, x -> x = '$t')) AS BIGINT)")
        .as(s"c_$i")
    }
    val state = arriving
      .select(col("doc_id"), expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
      .select(col("doc_id") +:
        expr("CAST(size(toks) AS BIGINT)").as("dl") +: cCols: _*)
      .groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"),
        terms.indices.map(i => max(col(s"c_$i")).as(s"c_$i")): _*)
    val snap = runToTable(state, OutputMode.Complete(), "ss_stream_bm25")
    val tf = terms.zipWithIndex.map { case (t, i) =>
      snap.select(col("doc_id"), col("dl"), lit(t).as("term"),
        col(s"c_$i").as("c")).filter(col("c") > 0L)
    }.reduce(_ unionByName _)
    TextAnalysis.bm25Report(
      TextAnalysis.bm25FromParts(snap.select(col("doc_id"), col("dl")),
        tf))
  }

  /** Streaming face of the embedding-outlier prune, sharing
    * `pipe_embed_prune`'s oracle: affinity to the STATIC trained
    * centroids is a pure per-row map (narrow argmax + broadcast k-row
    * centroid join - an APPEND-mode stream with zero keyed state), so
    * the stream lands the affinity relation; the bottom-decile cut is
    * a query-time VIEW over the snapshot under the evolving-answer
    * contract (one arriving vector shifts the global rank boundary
    * and can flip any other vector's keep bit - membership is never
    * stored state, same as the skyline/trending/CDF matrix views).
    */
  def streamEmbedPrune(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.Similarity
    val cents = Similarity.trainedCentroidsFor(spark, sfDir)
    val arriving = fileStream(spark, sfDir, "embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    Similarity.pruneFromAffinity(
      runToTable(Similarity.affinityWith(arriving, cents),
        OutputMode.Append(), "ss_stream_embed_prune"))
  }

  /** Streaming admission face of `dd_semantic`, sharing its oracle:
    * arriving vectors are assigned to the STATIC trained centroids
    * (the k x dims matrix rides in the NearestCentroid literal - a
    * narrow in-row expression, no stream-side state) and gated by a
    * stream-static broadcast join against the already-ingested
    * corpus's assignment on the cell id. The dominance rule
    * quantifies over ALL smaller-id vectors in the cell - kept or
    * dropped - so gating against the full static side gives verdicts
    * identical to the batch face's, which is what lets both share one
    * oracle. Per-cell streaming state is the min-dup aggregate only
    * (two longs per flagged vector); clean vectors hold no state.
    */
  def streamSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.{ParityMath, Similarity}
    val cents = Similarity.trainedCentroidsFor(spark, sfDir)
    val statAssign = Similarity.ivfAssignWith(
      Graft.tableParallel(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")), cents)
    val arriving = fileStream(spark, sfDir, "embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dups = Similarity.ivfAssignWith(arriving, cents).as("y")
      .join(broadcast(statAssign.as("x")),
        col("x.cid") === col("y.cid") &&
        col("x.vec_id") < col("y.vec_id"))
      .withColumn("sim", ParityMath.q6(
        expr(Similarity.cosSpark("x.embedding", "y.embedding"))))
      .filter(col("sim") >= Similarity.semanticEps)
      .groupBy(col("y.vec_id").as("vec_id"))
      .agg(min(col("x.vec_id")).as("dup_of"))
    // Update-mode snapshots are monotone non-increasing per key (the
    // agg state only ever sees more static matches), so min across
    // emissions is the final state
    val dupTable = runToTable(dups, OutputMode.Update(), "ss_stream_semantic")
      .groupBy(col("vec_id")).agg(min(col("dup_of")).as("dup_of"))
    statAssign.select(col("vec_id"), col("cid"))
      .join(dupTable, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
      .select(col("vec_id"), col("cid"), col("keep"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** Streaming face of the exact-sum correlation, sharing `q_corr`'s
    * oracle: the six exact sums ARE the whole streaming state (six
    * numbers per group - the minimum any online covariance carries),
    * maintained as an ordinary streaming aggregation with map-side
    * combine; the closed formula runs over the final snapshot exactly
    * as the batch face runs it over its aggregate. Because the sums
    * are exact integers, the stream's arrival order cannot perturb
    * the result - the same property that makes the batch face
    * bitwise-comparable cross-engine.
    */
  /** Streaming face of the log-spaced quantile-sketch drift, sharing
    * `q_ddsketch_drift`'s oracle: the sketch IS an additive
    * (cohort, bin) counter relation — layout-bounded at ~2200 rows —
    * so a Complete-mode agg over the mapped stream is the batch fact
    * and the quantile walk is a query-time view through the shared
    * `ddsketchDriftFromBinCounts`.
    */
  def streamDdsketchDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = fileStream(spark, sfDir, "events.parquet")
    graft.analytics.Sketches.ddsketchDriftFromBinCounts(
      runToTable(graft.analytics.Sketches.ddBinCounts(ev),
        OutputMode.Complete(), "ss_stream_ddsketch"))
  }

  /** Streaming face of the Spearman rank correlation, sharing
    * `q_spearman`'s oracle (the ss_stream_corr precedent): ranks are
    * a GLOBAL property so they cannot stream, but the statistic's
    * storable fact — the (x, y) PAIR-COUNT relation — is additive, so
    * a Complete-mode count agg over the stream IS the batch fact and
    * the rank join-back + closed formula are a query-time view
    * through the shared `spearmanFromPairCounts`.
    */
  def streamSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    val pc = fileStream(spark, sfDir, "lineitem.parquet")
      .select(expr("CAST(l_quantity AS BIGINT)").as("x"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)")
          .as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("k"))
    graft.analytics.Tpch.spearmanFromPairCounts(
      runToTable(pc, OutputMode.Complete(), "ss_stream_spearman"))
  }

  def streamCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val li = fileStream(spark, sfDir, "lineitem.parquet")
      .select(col("l_returnflag"),
        expr("CAST(l_quantity AS DECIMAL(10,0))").as("x"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(18,0))")
          .as("y"))
    val sums = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    runToTable(sums, OutputMode.Complete(), "ss_stream_corr")
      .select(col("l_returnflag"), col("n"),
        graft.pipeline.ParityMath.q6(expr(
          """((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"""
            .stripMargin)).as("corr_qty_price"),
        graft.pipeline.ParityMath.q6(expr(
          """((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 100.0)"""
            .stripMargin)).as("covar_pop"))
      .orderBy(col("l_returnflag"))
  }

  /** Streaming face of the time-series resample, sharing
    * `q_resample`'s oracle: the corpus-touching half - the per-(key,
    * bucket) observation counts - is maintained as a streaming
    * aggregation with bounded state (keys x active buckets, the
    * ss_stream_windowed state class), and the spine generation +
    * forward fill run over the streamed state via literally the batch
    * face's `resampleFill`. The fill's input is state-sized, not
    * event-sized - the stream never re-scans raw events to answer.
    */
  def streamResample(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.analytics.TimeSeries
    val base = TimeSeries.resampleBase(streamingEvents(spark, sfDir))
    val state = runToTable(base, OutputMode.Complete(), "ss_stream_resample")
    // the fill self-joins its input (the spine derives from it), which
    // trips reference dedup over the memory-table relation - rebase on
    // an InternalRow barrier (distributed, Tungsten form, fresh attrs)
    TimeSeries.resampleFill(org.apache.spark.sql.GraftBridge
      .ofInternalRows(spark, state.queryExecution.toRdd, state.schema))
  }

  /** Streaming face of the INTERPOLATING resample, sharing
    * `q_resample_interp`'s oracle - same split as `streamResample`:
    * the corpus-touching half (per-(key, bucket) count + last
    * observation by event_id, exact micro-units) is a streaming
    * aggregation with bounded state (keys x active buckets; the
    * max-by-event_id anchor is an ordinary max over a (event_id, v_mu)
    * struct, so arrival order cannot perturb it), and the spine +
    * two-sided interpolation windows run over the streamed state via
    * literally the batch `resampleInterpFill`. State-sized fill input,
    * never raw events.
    */
  def streamResampleInterp(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.analytics.TimeSeries
    val base = TimeSeries.resampleInterpBase(streamingEvents(spark, sfDir))
    val state = runToTable(base, OutputMode.Complete(),
      "ss_stream_resample_interp")
    // same InternalRow barrier as streamResample: the fill self-joins
    // its input, which trips reference dedup over memory-table relations
    TimeSeries.resampleInterpFill(org.apache.spark.sql.GraftBridge
      .ofInternalRows(spark, state.queryExecution.toRdd, state.schema))
  }

  /** Streaming admission against the evolving BIGRAM LM - the
    * context-aware sibling of `ss_stream_quality`, sharing
    * `txt_bigram_nll`'s oracle: each micro-batch folds its pair/term
    * partials into the incremental store and is scored against the
    * store's current summed partials (arrival-time scores persisted
    * per batch); the returned relation is the query-time re-scoring,
    * under which every document - however early it arrived - is scored
    * against the full final pair vocabulary, which is exactly the
    * one-shot batch computation.
    */
  def streamBigramNll(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.SignatureStore
    val store = SignatureStore.tempDirForExit("graft_stream_lm2")
    SignatureStore.admitLm2(spark, sfDir, store, glob = "documents.parquet")
    SignatureStore.storedBigramNll(spark, store)
  }

  /** Streaming face of the Kneser–Ney bigram NLL, sharing
    * `txt_kn_nll`'s oracle (the ss_stream_bigram precedent, one store
    * serving the whole LM family): the evolving corpus streams its
    * additive bigram/unigram partials into the lm2 store through the
    * SAME admission path the bigram face uses, and the interpolated
    * KN smoothing — continuation counts, per-history type counts,
    * the discount chain — is a query-time view through
    * `storedKnNll`, vocab-sized, never corpus-sized.
    */
  def streamKnNll(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.SignatureStore
    val store = SignatureStore.tempDirForExit("graft_stream_kn_lm2")
    SignatureStore.admitLm2(spark, sfDir, store, glob = "documents.parquet")
    SignatureStore.storedKnNll(spark, store)
  }

  /** Streaming admission face of the temperature mix, sharing
    * `pipe_mix`'s oracle: the per-source cutoffs are the mixing PLAN -
    * a model parameter derived once from the static corpus's source
    * counts - and each arriving doc's keep/drop is a stateless in-row
    * threshold test against its source's broadcast cutoff. Zero
    * streaming state; the admission function is literally the batch
    * face's (`CorpusOps.mixAdmit`).
    */
  def streamMix(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.CorpusOps
    val cutoffs = CorpusOps.mixCutoffs(spark, sfDir)
    val docs = fileStream(spark, sfDir, "documents.parquet")
    runToTable(CorpusOps.mixAdmit(docs, cutoffs),
      OutputMode.Append(), "ss_stream_mix")
      .orderBy(col("doc_id"))
  }

  /** Streaming face of the temperature upsampler, sharing
    * `pipe_repeat_upsample`'s oracle: the epoch plan is a sources-sized
    * model parameter (derived batch-side, like the mix cutoffs), so
    * per-doc epoch assignment is STATELESS — each arriving doc's
    * copies are final at arrival, Append mode, no state at all.
    */
  def streamUpsample(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    import graft.pipeline.CorpusOps
    val plan = CorpusOps.upsamplePlan(spark, sfDir)
    val docs = fileStream(spark, sfDir, "documents.parquet")
    runToTable(CorpusOps.upsampleAdmit(docs, plan),
      OutputMode.Append(), "ss_stream_upsample")
      .orderBy(col("doc_id"), col("epoch"))
  }

  /** Streaming face of the decayed count cache, sharing
    * `q_decay_count`'s oracle: the streamed state is the per
    * (p, s, o, day) count — an ordinary streaming aggregation, state
    * bounded at keys × live day buckets — and the decay is evaluated
    * over the final snapshot against its own max day via literally
    * the batch `decayFromBuckets`. Decay-as-a-view means the
    * streaming agg never rewrites old state when the clock advances;
    * an eviction policy (drop buckets older than `decayMaxAge`) would
    * bound state further without changing any answer.
    */
  def streamDecayCount(spark: SparkSession, sfDir: String): DataFrame = {
    val buckets = graft.analytics.TimeSeries.decayBuckets(
      graft.core.Transform.extractFrom(streamingEvents(spark, sfDir)))
    graft.analytics.TimeSeries.decayFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_decay"))
  }

  /** Streaming face of the lead–lag CCF, sharing `q_xcorr`'s oracle:
    * the streamed state is the per-(type, hour) count — an ordinary
    * streaming aggregation, state bounded at types × live hours — and
    * the densify/align/Pearson chain is evaluated over the final
    * snapshot via literally the batch `xcorrFromBuckets` (one arriving
    * event shifts its bucket and every pair that bucket touches, so
    * the CCF itself is never storable state — the decay face's
    * evolving-answer contract on the correlation axis).
    */
  def streamXcorr(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.xcorrBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.xcorrFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_xcorr"))
  }

  /** Streaming face of the Holt-Winters smoother, sharing
    * `q_holt_winters`'s oracle: the streamed state is the ADDITIVE
    * (type, day) count matrix (ordinary streaming aggregation, state
    * bounded at types × live days); the seasonal recursion runs over
    * the final snapshot via the batch `hwFromBuckets` - an arriving
    * event changes its day's count and thereby every smoothed value
    * from that day forward, so the recursion is never storable state.
    */
  def streamHw(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.hwBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.hwFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_hw"))
  }

  /** Streaming DTW: the same bounded (type, day) aggregation state as
    * `ss_stream_hw`, with the min-plus alignment a query-time view
    * through the batch `dtwFromBuckets` (one arriving event shifts a
    * day count and can reroute the whole warp path - nothing about the
    * DP is storable per batch).
    */
  def streamDtw(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.hwBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.dtwFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_dtw"))
  }

  /** Streaming Benford screen: state is the NINE-counter digit
    * histogram (ordinary Complete-mode agg - the minimum any exact
    * frequency test can carry), frequencies + chi a query-time view
    * through the batch `benfordFromCounts`.
    */
  def streamBenford(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val counts = graft.analytics.Tpch.benfordDigits(
        streamingEvents(spark, sfDir))
      .groupBy(col("digit"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    graft.analytics.Tpch.benfordFromCounts(
      runToTable(counts, OutputMode.Complete(), "ss_stream_benford"))
  }

  /** Streaming stickiness: state is the first-seen distinct
    * (day, user) pair relation (the streamDedup discipline — exact,
    * append-only, the minimum fact ANY distinct-user ratio needs),
    * with the window fold a query-time view through the batch
    * `stickinessFromDayUsers` (one arriving pair shifts a day's DAU
    * and the window's MAU together).
    */
  def streamStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val du = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(graft.pipeline.ParityMath.fdivSql("graft_ts_us(ts)", "86400000000")).as("d"),
        col("user_id"))
      .dropDuplicates("d", "user_id")
    graft.analytics.Behavior.stickinessFromDayUsers(
      runToTable(du, OutputMode.Append(), "ss_stream_stickiness"))
  }

  /** Streaming chi-square screen: state is the ADDITIVE
    * (event_type, parity) contingency cells (ordinary Complete-mode
    * agg, bounded at #types x 2), margins/expectations/V a query-time
    * view through the batch `chisqFromCells` (any arriving event
    * shifts a margin and with it EVERY cell's expectation).
    */
  def streamChisq(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val cells = graft.analytics.Behavior.chisqCells(
      streamingEvents(spark, sfDir))
    graft.analytics.Behavior.chisqFromCells(
      runToTable(cells, OutputMode.Complete(), "ss_stream_chisq"))
  }

  /** Streaming A/B readout: state is the per-user conversion flag
    * (Complete-mode max fold, one bit per live user), the pooled z a
    * query-time view through the batch `abtestFromFlags` (one
    * arriving purchase flips a flag and re-pools both arms).
    */
  def streamAbtest(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val flags = graft.analytics.Behavior.abtestFlags(
      streamingEvents(spark, sfDir))
    graft.analytics.Behavior.abtestFromFlags(
      runToTable(flags, OutputMode.Complete(), "ss_stream_abtest"))
  }

  /** Streaming burstiness: same bounded bucket state, verdict a
    * query-time view through the batch `burstFromBuckets` (the Fano
    * ratio needs the corpus-wide densified span, which one arriving
    * out-of-range event extends for every type).
    */
  def streamBurst(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.hwBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.burstFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_burst"))
  }

  /** Streaming face of the STL-lite decomposition, sharing `q_stl`'s
    * oracle: the streamed state is the total-per-hour count (ordinary
    * streaming aggregation, state bounded at live hours); the
    * densify/trend/seasonal chain runs over the final snapshot via
    * literally the batch `stlFromBuckets` (one arriving event shifts
    * its bucket, the trend line through it, and every cell's
    * detrended value — the decomposition is never storable state).
    */
  def streamStl(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.stlBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.stlFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_stl"))
  }

  /** Streaming face of the Mann–Kendall trend test, sharing
    * `q_mannkendall`'s oracle: the streamed state is the
    * total-per-day count (ordinary streaming aggregation, state
    * bounded at live days); the densify + sign-pair chain runs over
    * the final snapshot via literally the batch `mkFromBuckets` (one
    * arriving event shifts its day and the sign of every pair that
    * day touches — the statistic is never storable state).
    */
  def streamMannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.mkBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.mkFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_mannkendall"))
  }

  /** Streaming face of Page's CUSUM, sharing `q_cusum`'s oracle:
    * same storable fact as the other daily-series trend faces (the
    * additive per-day count), the prefix-sum/running-min excursion
    * chain a query-time view through the batch `cusumFromBuckets`.
    */
  def streamCusum(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.mkBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.cusumFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_cusum"))
  }

  /** Streaming face of the Theil–Sen estimator, sharing
    * `q_theilsen`'s oracle: same storable fact as the Mann–Kendall
    * face (the additive per-day count — the companion statistics read
    * the same series), the median-of-slopes selection a query-time
    * view through the batch `theilsenFromBuckets`.
    */
  def streamTheilsen(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.mkBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.theilsenFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_theilsen"))
  }

  /** Streaming face of the Wald-Wolfowitz runs test, sharing
    * `q_runs_test`'s oracle: same storable fact as the other
    * daily-series faces (the additive per-day count — one arriving
    * event can shift the median and thereby EVERY day's sign), the
    * median/sign/run chain a query-time view through the batch
    * `runsFromBuckets`.
    */
  def streamRunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.mkBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.runsFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_runs"))
  }

  /** Streaming face of the fixed-point periodogram, sharing
    * `q_periodogram`'s oracle: same additive per-day count state as
    * the other trend faces (one arriving event shifts its day's
    * mean-centered value and with it every period's power), the
    * trig-table fold a query-time view through the batch
    * `periodogramFromBuckets`.
    */
  def streamPeriodogram(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Graft.ensureConf(spark)
    val buckets = graft.analytics.TimeSeries.mkBuckets(
      streamingEvents(spark, sfDir))
    graft.analytics.TimeSeries.periodogramFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_periodogram"))
  }

  /** Streaming admission face of the entropy signal, sharing
    * `txt_entropy`'s oracle: the score is within-row (the whole point
    * of the in-row formulation), so arriving docs are scored by
    * LITERALLY the batch projection with zero streaming state and
    * zero stream-side shuffles.
    */
  def streamEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fileStream(spark, sfDir, "documents.parquet")
    runToTable(graft.pipeline.TextAnalysis.entropyFrom(docs),
      OutputMode.Append(), "ss_stream_entropy")
      .orderBy(col("doc_id"))
  }

  /** Streaming face of the Zipf composition report, sharing
    * `txt_zipf`'s oracle: the streamed state is the vocabulary count
    * relation (term → cnt, an ordinary streaming agg with map-side
    * combine - state is vocab-bounded, the minimum any rank-frequency
    * report can carry), and the bounded-heap ranking + integer
    * least-squares run over the final snapshot via literally the
    * batch `zipfFrom`.
    */
  /** Streaming face of the PMI collocation report, sharing
    * `txt_pmi`'s oracle: the streamed state is the (w1, w2) bigram
    * count — an ordinary streaming aggregation, state bounded at the
    * bigram vocabulary — and the marginals/N/support-floor/top-k
    * chain runs over the final snapshot via literally the batch
    * `pmiFromCounts` (one arriving doc shifts every pair's marginals
    * and can push pairs across the support floor: the ranking is
    * never storable state — the tfidf contract on the pair axis).
    */
  def streamPmi(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val bf = graft.pipeline.TextAnalysis.bigramPairs(
        graft.pipeline.TextAnalysis.bigramDocToks(docs))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    graft.pipeline.TextAnalysis.pmiFromCounts(
      runToTable(bf, OutputMode.Complete(), "ss_stream_pmi"))
  }

  /** Streaming face of the per-source JSD drift monitor, sharing
    * `txt_jsd_drift`'s oracle: the streamed state is the
    * (source, term) count — an ordinary streaming aggregation, state
    * bounded at the sparse support — and the divergence report runs
    * over the final snapshot via literally the batch `jsdFromCounts`
    * (one arriving doc shifts N, its source's N_s, and every term's
    * marginal: the divergence is never storable state).
    */
  def streamJsd(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val st = docs
      .select(col("source"), explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cst"))
    graft.pipeline.TextAnalysis.jsdFromCounts(
      runToTable(st, OutputMode.Complete(), "ss_stream_jsd"))
  }

  def streamZipf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val freq = docs
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    graft.pipeline.TextAnalysis.zipfFrom(
      runToTable(freq, OutputMode.Complete(), "ss_stream_zipf"))
  }

  /** Streaming coverage curve, sharing `txt_vocab_coverage`'s
    * oracle: the SAME Complete-mode (term, cnt) state as the zipf
    * face (one arriving doc can re-rank any type), the rank/cut fold
    * a query-time view through the batch `coverageFrom`.
    */
  def streamVocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val freq = docs
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    graft.pipeline.TextAnalysis.coverageFrom(
      runToTable(freq, OutputMode.Complete(), "ss_stream_coverage"))
  }

  /** Streaming face of the Heaps vocabulary-growth curve, sharing
    * `txt_heaps`'s oracle: the streamed state is the two merge-clean
    * relations the batch core folds - per-term FIRST-appearance doc
    * (min, merges under any batch split) and per-doc token count
    * (each doc arrives whole in one file batch) - and the ten-row
    * curve is a query-time view over them (cumulative vocabulary is
    * an evolving-answer quantity: a late doc introducing an old term
    * earlier would re-bucket it, which min-state absorbs and any
    * per-batch curve union could not).
    */
  def streamHeaps(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fileStream(spark, sfDir, "documents.parquet")
    val toks = docs.select(col("doc_id"), explode(expr(
      "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
    val firstDoc = runToTable(
      toks.groupBy(col("term")).agg(min(col("doc_id")).as("fd")),
      OutputMode.Complete(), "ss_stream_heaps_fd")
    val docTok = runToTable(
      toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt")),
      OutputMode.Complete(), "ss_stream_heaps_nt")
    val lim = docTok.agg(max(col("doc_id")) + 1L).head.getLong(0)
    graft.pipeline.TextAnalysis.heapsFromRelations(
      spark, firstDoc, docTok, lim)
  }

  /** Streaming face of the per-subject top-k count query, sharing
    * `ss_q_topk_per_subj`'s oracle: the streamed state is the count
    * cache itself (the same declarative aggregation as
    * `streamCountState` — state linear in #keys, maintained
    * incrementally), and the top-k selection is a view over the
    * snapshot via the batch `topKPerSubjFrom` — ranking is pure
    * presentation, so the stream carries no extra state for it.
    */
  def streamTopkPerSubj(spark: SparkSession, sfDir: String): DataFrame = {
    val snap = runToTable(countsOf(streamingEvents(spark, sfDir)),
      OutputMode.Complete(), "ss_stream_topk")
    graft.core.CountQueries.topKPerSubjFrom(snap.drop("cache"), 3)
      .orderBy(col("s"), col("rk"))
  }

  /** Streaming face of the journey-prefix report, sharing `q_paths`'
    * oracle: per-user state is the bounded FirstKAgg buffer of the k
    * EARLIEST (tus, event_id, event_type) rows — a journey prefix is
    * exactly the k earliest events seen so far, so the state is O(k)
    * per user, merges associatively, and survives out-of-order and
    * multi-batch arrival (where the batch face's row_number needs the
    * whole history present). Path strings + the bounded top-k report
    * are a view over the snapshot via the batch `pathsTopFrom`.
    */
  def streamPaths(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val firstK = udaf(graft.functions.FirstKAgg(
      graft.analytics.Behavior.pathLen))
    val state = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr("graft_ts_us(ts)").as("tus"),
        col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(firstK(col("tus"), col("event_id"), col("event_type"))
        .as("buf"))
    val snap = runToTable(state, OutputMode.Complete(), "ss_stream_paths")
    graft.analytics.Behavior.pathsTopFrom(
      snap.select(expr("array_join(transform(buf, x -> x._3), '>')")
        .as("path")))
  }

  /** Streaming face of the regex sequence matcher, sharing
    * `q_seq_pattern`'s oracle: the per-user state is the event
    * history as an UNSORTED collect_list of (tus, event_id, initial)
    * — collect_list merges associatively and the view sorts IN-ROW,
    * so out-of-order and multi-batch arrival cannot perturb the
    * sequence string (the batch face's discipline, streamed). The
    * history is the inherent state of any matcher over arbitrary
    * regular patterns — a deployment bounds it with retention; the
    * regex scan + match report are a view over the snapshot via the
    * shared seqPatternFrom.
    */
  def streamSeqPattern(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val state = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr("graft_ts_us(ts)").as("tus"),
        col("event_id"), substring(col("event_type"), 1, 1).as("c"))
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("tus"), col("event_id"), col("c")))
        .as("buf"))
    val snap = runToTable(state, OutputMode.Complete(),
      "ss_stream_seq_pattern")
    graft.analytics.Behavior.seqPatternFrom(
      snap.select(col("user_id"),
        expr("array_join(transform(array_sort(buf), x -> x.c), '')")
          .as("seq")))
  }

  /** Streaming face of the Kaplan-Meier survival curve, sharing
    * `q_survival`'s oracle: the per-user state is the event-time
    * history as an UNSORTED collect_list of (tus, event_id) — the
    * seq-pattern discipline, and the inherent state of ANY exact
    * censoring estimator (an arriving event turns the user's previous
    * last gap from censored into observed AND can move the corpus
    * observation end, so neither the (day, deaths, censored) relation
    * nor the product fold is storable). The gap extraction, censoring
    * against max(tus), and the integer KM fold are a query-time view
    * over the snapshot via literally the batch `qSurvivalFrom`; a
    * deployment bounds the history with retention.
    */
  def streamSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val state = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr("graft_ts_us(ts)").as("tus"),
        col("event_id"))
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("tus"), col("event_id"))).as("buf"))
    val snap = runToTable(state, OutputMode.Complete(),
      "ss_stream_survival")
    graft.analytics.Behavior.qSurvivalFrom(
      snap.select(col("user_id"), explode(col("buf")).as("x"))
        .select(col("user_id"), col("x.tus").as("tus"),
          col("x.event_id").as("event_id")),
      graft.analytics.TimeSeries.dayUs)
  }

  /** Streaming face of the stratified KM + log-rank, sharing
    * `q_survival_logrank`'s oracle: the SAME per-user history state as
    * `ss_stream_survival` (the cohort label is derivable from the key,
    * so stratification adds NOTHING to the storable fact), with the
    * per-group folds and the pooled-day log-rank accounting a
    * query-time view via the batch `survivalLogrankFrom`.
    */
  def streamSurvivalLogrank(spark: SparkSession,
                            sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val state = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr("graft_ts_us(ts)").as("tus"),
        col("event_id"))
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("tus"), col("event_id"))).as("buf"))
    val snap = runToTable(state, OutputMode.Complete(),
      "ss_stream_survival_logrank")
    graft.analytics.Behavior.survivalLogrankFrom(
      snap.select(col("user_id"), explode(col("buf")).as("x"))
        .select(pmod(col("user_id"), lit(2L)).as("grp"), col("user_id"),
          col("x.tus").as("tus"), col("x.event_id").as("event_id")),
      graft.analytics.TimeSeries.dayUs)
  }

  /** Streaming face of the RFM segmentation, sharing `q_rfm`'s oracle:
    * the streamed state is the per-customer rollup (max last-order
    * time / order count / cents sum — the same declarative aggregation
    * as the batch `rfmRollup`, state one row per customer); the
    * quintile ranking is a snapshot view via the batch `rfmFrom`,
    * because one arriving order can shift every other customer's
    * quintile boundary — scores are never streaming state.
    */
  def streamRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = fileStream(spark, sfDir, "orders.parquet")
    graft.analytics.Segmentation.rfmFrom(
      runToTable(graft.analytics.Segmentation.rfmRollup(orders),
        OutputMode.Complete(), "ss_stream_rfm"))
  }

  /** Streaming face of the 2-D skyline, sharing `q_skyline`'s oracle:
    * the streamed state is the per-customer rollup (count + cents sum
    * — the same additive state as the RFM face); the Pareto frontier
    * is a query-time view via the batch `skylineFrom`, because one
    * arriving order can both promote its customer INTO the skyline
    * and evict any number of now-dominated members.
    */
  def streamSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = fileStream(spark, sfDir, "orders.parquet")
    graft.analytics.Segmentation.skylineFrom(
      runToTable(graft.analytics.Segmentation.rfmRollup(orders),
        OutputMode.Complete(), "ss_stream_skyline"))
  }

  /** Streaming face of the mean-shift changepoint scan, sharing
    * `q_changepoint`'s oracle: the streamed state is the ADDITIVE
    * per-day count matrix (a windowless streaming aggregation, state
    * bounded by #days); the whole split scan is a query-time view over
    * the snapshot via the batch `changepointFrom` — the sharpest
    * "evolving answer" case after the decay cache: every arriving day
    * shifts every split's suffix mean, so no per-split score could
    * ever be stored.
    */
  def streamChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val daily = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull)
      .select(expr("graft_ts_us(ts)").as("tus"))
      // same ts >= 0 contract as the batch face (DIV vs // divergence
      // on pre-epoch timestamps)
      .filter(col("tus") >= 0L)
      .select(expr(
        s"tus DIV ${graft.analytics.TimeSeries.dayUs}L")
        .as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    graft.analytics.TimeSeries.changepointFrom(
      runToTable(daily, OutputMode.Complete(), "ss_stream_changepoint"))
  }

  /** Streaming face of the trending-lift report, sharing
    * `q_trending`'s oracle: the streamed state is the ADDITIVE
    * (o, day) count matrix (windowless streaming agg, state bounded by
    * objects × live days); the whole report — max day, two-bucket
    * fold, lift ranking, top-N — is a query-time view via the batch
    * `trendingFromBuckets`, because one arriving event can move
    * day_max and reprice every object's lift.
    */
  def streamTrending(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val buckets = Transform.extractFrom(streamingEvents(spark, sfDir))
      .select(col("o"), expr(graft.pipeline.ParityMath.fdivSql("t",
        s"${graft.analytics.TimeSeries.decayHalflifeUs}L")).as("day"))
      .groupBy(col("o"), col("day"))
      .agg(count(lit(1)).as("c"))
    graft.analytics.TimeSeries.trendingFromBuckets(
      runToTable(buckets, OutputMode.Complete(), "ss_stream_trending"))
  }

  /** Streaming face of the seasonality matrix, sharing
    * `q_seasonality`'s oracle: the streamed state is the ≤168-cell
    * ADDITIVE (dow, hour) count matrix — the projection + aggregation
    * are LITERALLY the batch `seasonalityCells` over the streaming
    * source; lift is a query-time view (every event moves the total).
    */
  def streamSeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    graft.analytics.TimeSeries.seasonalityFromCells(
      runToTable(graft.analytics.TimeSeries.seasonalityCells(
        streamingEvents(spark, sfDir)),
        OutputMode.Complete(), "ss_stream_seasonality"))
  }

  /** Streaming face of the price histogram + exact CDF, sharing
    * `q_histogram`'s oracle: the streamed state is the ~21-cell
    * ADDITIVE bucket matrix over a streaming read of the lineitem
    * fact; the cumulative distribution is a query-time view (one
    * arriving row shifts every later bucket's CDF).
    */
  def streamHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val lineitem = fileStream(spark, sfDir, "lineitem.parquet")
    graft.analytics.Tpch.histogramFromCells(
      runToTable(graft.analytics.Tpch.histogramCells(lineitem),
        OutputMode.Complete(), "ss_stream_histogram"))
  }

  /** Max book KEYS the stream-static book joins will broadcast; above
    * it the join degrades to a shuffled stream-static hash join on the
    * key (set via `graft.stream.bookBroadcastMaxKeys`). Default sized
    * so a book of ~100-entry rings stays an order of magnitude under
    * the 8 GB broadcast ceiling; a deployment tunes it to its
    * entries-per-key.
    */
  val bookBroadcastMaxKeysConf = "graft.stream.bookBroadcastMaxKeys"
  val bookBroadcastMaxKeysDefault = 500000L

  /** Join an arriving frame against a per-key static book: broadcast
    * while the book's key count fits the threshold, otherwise the SAME
    * left equi-join WITHOUT the hint - Spark plans a shuffled
    * stream-static hash/sort-merge join, the documented degradation
    * the r9 verdict flagged as promised-but-absent (a user whose book
    * outgrew broadcast hit a driver OOM, not a degradation). The key
    * count is one aggregate over the already-built book relation, paid
    * once at query construction - never per micro-batch.
    */
  private[streaming] def bookJoin(ev: DataFrame, book: DataFrame,
                                  cond: org.apache.spark.sql.Column)
      : DataFrame = {
    val spark = ev.sparkSession
    val maxKeys = spark.conf.getOption(bookBroadcastMaxKeysConf)
      .flatMap(_.toLongOption).getOrElse(bookBroadcastMaxKeysDefault)
    val side = if (book.count() <= maxKeys) broadcast(book) else book
    ev.join(side, cond, "left")
  }

  /** The as-of book over the orders table and the in-row lookup -
    * shared by the streaming face and the degradation spec (which pins
    * BOTH plan shapes on a static frame).
    */
  private[streaming] def asofBook(spark: SparkSession,
                                  sfDir: String): DataFrame =
    Graft.table(spark, sfDir, "orders")
      .select(col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("rt"),
        col("o_orderkey"))
      .groupBy(col("k"), col("rt"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("rt"), col("o_orderkey"))))
        .as("book"))

  private[streaming] def asofJoined(ev: DataFrame,
                                    idx: DataFrame): DataFrame =
    bookJoin(ev, idx, ev("user_id") === idx("k"))
      .withColumn("m",
        expr("try_element_at(filter(book, x -> x.rt <= t), -1)"))
      .select(col("event_id"), col("user_id"), col("t"),
        col("m.o_orderkey").as("matched_order"),
        col("m.rt").as("matched_rt"))

  /** Streaming face of the as-of join, sharing `q_asof_join`'s oracle
    * (DuckDB's native ASOF LEFT JOIN): the static right side collapses
    * to a per-key SORTED book of (rt, o_orderkey) - the same
    * one-row-per-(key,time) dedup as the batch face - and each
    * arriving event resolves its match with an in-row ordered lookup
    * (last book entry with rt <= t), so the stream side does no
    * keyed shuffle and holds no state at all. The book per key is
    * bounded by right-rows-per-key (orders per customer / quotes per
    * symbol - the inherent as-of state ANY streaming implementation
    * carries); it broadcasts while its key count fits
    * `bookBroadcastMaxKeysConf` and otherwise degrades to the shuffled
    * stream-static hash join (both shapes spec-pinned).
    */
  def streamAsof(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = streamingEvents(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        expr("graft_ts_us(ts)").as("t"))
    val joined = asofJoined(ev, asofBook(spark, sfDir))
    runToTable(joined, OutputMode.Append(), "ss_stream_asof")
      .orderBy(col("event_id"))
  }

  /** Streaming face of last-touch attribution, sharing
    * `q_attribution`'s oracle - the `streamAsof` design with the
    * staleness tolerance as an extra row-local predicate: the
    * historical view book collapses once per user to a sorted
    * (rt, view_id) array (the inherent attribution state), each
    * arriving purchase resolves its latest at-or-before view with an
    * in-row ordered lookup and nulls it out when older than the
    * lookback. Zero streaming state, zero keyed shuffles on the
    * stream side; the book broadcasts (degrading to a stream-static
    * hash join on the key when it outgrows broadcast).
    */
  private[streaming] def attributionBook(spark: SparkSession,
                                         sfDir: String): DataFrame =
    Graft.table(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type") === "view")
      .select(col("user_id").as("k"), expr("graft_ts_us(ts)").as("rt"),
        col("event_id"))
      .groupBy(col("k"), col("rt"))
      .agg(max(col("event_id")).as("view_id"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("rt"), col("view_id"))))
        .as("book"))

  private[streaming] def attributionJoined(purchases: DataFrame,
                                           book: DataFrame): DataFrame = {
    val tol = graft.analytics.AsofJoin.attributionLookbackUs
    bookJoin(purchases, book, purchases("user_id") === book("k"))
      // try_element_at: a purchase BEFORE any view filters the book to
      // an empty array, which ANSI element_at(-1) rejects
      .withColumn("m",
        expr("try_element_at(filter(book, x -> x.rt <= t), -1)"))
      .withColumn("fresh",
        col("m").isNotNull && col("t") - col("m.rt") <= tol)
      .select(col("event_id"), col("user_id"), col("t"),
        when(col("fresh"), col("m.view_id")).as("attributed_view"),
        when(col("fresh"), col("m.rt")).as("view_t"),
        col("fresh").as("attributed"))
  }

  def streamAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val purchases = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        expr("graft_ts_us(ts)").as("t"))
    val joined = attributionJoined(purchases,
      attributionBook(spark, sfDir))
    runToTable(joined, OutputMode.Append(), "ss_stream_attribution")
      .orderBy(col("event_id"))
  }

  /** Streaming face of the cohort retention matrix, sharing
    * `q_cohort`'s oracle: the per-user active-week SET is the streamed
    * state - collect_set is an order-insensitive mergeable union, and
    * its size is bounded by the corpus's week count, so arrival order
    * cannot perturb it and state stays small per key. The matrix math
    * runs over the final snapshot via literally the batch
    * `cohortMatrixFrom` (state-sized input, never raw events).
    */
  def streamCohort(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.analytics.Behavior
    val perUser = streamingEvents(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        expr(graft.pipeline.ParityMath.fdivSql("graft_ts_us(ts)", s"${Behavior.cohortWeekUs}L")).as("w"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("w")).as("ws"))
    Behavior.cohortMatrixFrom(
      runToTable(perUser, OutputMode.Complete(), "ss_stream_cohort"))
  }

  final case class UndoOp(s: Long, o: Long, delta: Long, t: Long, seq: Long)
  final case class UndoCountOut(s: Long, a: String, o: Long, cnt: Long,
                                last_t: Long, ops: Long)

  /** Streaming retraction face of the count cache ≙ the reference
    * applying `undoUpdate` inline in the live pipeline (caches.clj:89
    * dispatching to tuple_counts/update.clj `dec-count!`): per
    * [subject object] key, `purchase` increments and `click` retracts
    * with the reference's exact floor-at-each-step semantics -
    * decrement only while positive, AT THE MOMENT the retraction
    * arrives, never a clamped net sum. The per-key state is three
    * longs (cnt, n_inc, last_t); ops within a micro-batch are applied
    * in (t, seq) order, matching the single-threaded queue order the
    * reference processes under. Keys never incremented stay invisible
    * (dec-count! on a missing subject is a nil no-op), and the
    * timestamp tracks increments only (dec-count! ignores its
    * timestamp) - identical to the batch `Caches.undoCountState`, so
    * the same DuckDB oracle checks both faces.
    */
  private def undoCountHandler(
      key: (Long, Long), rows: Iterator[UndoOp],
      state: GroupState[(Long, Long, Long, Long)]): Iterator[UndoCountOut] = {
    var (cnt, nInc, lastT, nOps) = state.getOption.getOrElse((0L, 0L, -1L, 0L))
    rows.toSeq.sortBy(r => (r.t, r.seq)).foreach { r =>
      nOps += 1L
      if (r.delta == 1L) {
        cnt += 1L; nInc += 1L; lastT = math.max(lastT, r.t)
      } else if (cnt > 0L) cnt -= 1L
    }
    state.update((cnt, nInc, lastT, nOps))
    // ops is monotone per key across emissions, so a multi-batch
    // consumer can select each key's latest snapshot
    if (nInc >= 1L)
      Iterator.single(UndoCountOut(key._1, "buy", key._2, cnt, lastT, nOps))
    else Iterator.empty
  }

  /** Streaming retraction face of the associative cache ≙
    * AssociativeCache.undoUpdate applied live (caches.clj:37: a
    * retraction puts nil; last operation wins). The batch
    * `undoAssocState` is already a pure last-op-wins aggregation, so
    * the streaming face is the SAME declarative agg maintained
    * incrementally - `signup` writes (k=o, v=s), `error` retracts with
    * a null write, max over the (t, seq, v) struct picks the latest.
    */
  def streamUndoAssocState(spark: SparkSession, sfDir: String): DataFrame = {
    val tuples = Transform.extractFrom(streamingEvents(spark, sfDir))
    val ops = tuples.filter(col("p") === "signup")
      .select(col("o").as("k"), col("s").as("v"), col("t"), col("seq"))
      .unionAll(
        tuples.filter(col("p") === "error")
          .select(col("o").as("k"), lit(null).cast(LongType).as("v"),
            col("t"), col("seq")))
    val state = ops.groupBy(col("k"))
      .agg(max(struct(col("t"), col("seq"), col("v"))).as("m"))
      .select(lit("signup-obj-user").as("cache"), col("k"),
        col("m.v").as("v"), col("m.t").as("t"))
    runToTable(state, OutputMode.Complete(), "ss_stream_undo_assoc")
      .orderBy(col("k"))
  }

  final case class LastNOp(k: Long, op: String, v: Long, t: Long, seq: Long)

  /** Ring-buffer fold shared by the streaming undo-lastn handler ≙ the
    * batch aggregate() HOF in `Caches.undoLastnState` (caches.clj:69-73
    * undoUpdate: rebuild with every occurrence of the value removed;
    * updates conj with capacity-n eviction). Buffer is chronological,
    * oldest first.
    */
  def lastnUndoStep(buf: Vector[Long], op: String, v: Long,
                    n: Int): Vector[Long] =
    if (op == "add") (buf :+ v).takeRight(n)
    else buf.filterNot(_ == v)

  private def undoLastnHandler(n: Int)(
      key: Long, rows: Iterator[LastNOp],
      state: GroupState[(Long, Vector[Long])]): Iterator[LastNOut] = {
    val (ops0, buf0) = state.getOption.getOrElse((0L, Vector.empty[Long]))
    val sorted = rows.toSeq.sortBy(r => (r.t, r.seq))
    val buf = sorted.foldLeft(buf0) {
      (b, r) => lastnUndoStep(b, r.op, r.v, n)
    }
    val ops = ops0 + sorted.size
    state.update((ops, buf))
    // rn = 1 newest ≙ undoLastnState's exploded exposure. The batch
    // output carries no time column (retraction severs the
    // value-to-time association), so the t slot carries the key's
    // monotone op count - multi-batch consumers use it to select the
    // latest snapshot; the oracle-facing query drops it. An EMPTIED
    // buffer emits an rn=0 tombstone: without it the latest snapshot
    // would be zero rows and a stale non-empty snapshot from an
    // earlier batch would win the max-ops selection.
    if (buf.isEmpty)
      Iterator.single(LastNOut("view-user-obj", key, 0L, ops, 0L))
    else
      buf.reverseIterator.zipWithIndex.map { case (v, i) =>
        LastNOut("view-user-obj", key, v, ops, i + 1L)
      }
  }

  /** Streaming retraction face of the last-N cache: per-key sequential
    * ring-buffer state with retract-all-matching + capacity eviction,
    * applied in (t, seq) order as micro-batches arrive - the same fold
    * the batch runs inside aggregate(), so both faces share
    * `ssUndoLastn`'s recursive-CTE oracle. `view` appends, `click`
    * retracts, mirroring the batch op routing.
    */
  /** The retraction ring-buffer stream over any extracted tuple stream
    * (MemoryStream-drivable for parity tests).
    */
  def undoLastnStream(tuples: DataFrame,
                      n: Int = Config.lastNSize): Dataset[LastNOut] = {
    val spark = tuples.sparkSession
    import spark.implicits._
    val ops = tuples
      .filter(col("p").isin("view", "click"))
      .select(col("s").as("k"),
        when(col("p") === "view", lit("add")).otherwise(lit("del")).as("op"),
        col("o").as("v"), col("t"), col("seq"))
      .as[LastNOp]
    ops.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(undoLastnHandler(n))
  }

  def streamUndoLastnState(spark: SparkSession, sfDir: String,
                           n: Int = Config.lastNSize): DataFrame = {
    val out = undoLastnStream(
      Transform.extractFrom(streamingEvents(spark, sfDir)), n)
    val snap = runToTable(out.toDF(), OutputMode.Update(),
      "ss_stream_undo_lastn")
    // t carries the key's monotone op count (see undoLastnHandler):
    // keep only each key's max-ops snapshot, so multi-batch delivery
    // (stale buffer emissions from earlier batches) can't surface
    // duplicate or conflicting rows.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    snap.withColumn("mx", max(col("t")).over(w))
      .filter(col("t") === col("mx"))
      .filter(col("rn") >= 1) // drop emptied-buffer tombstones
      .select(col("cache"), col("k"), col("rn"), col("v"))
      .orderBy(col("k"), col("rn"))
  }

  /** The retraction stream itself, for any extracted tuple stream -
    * exposed separately so parity tests can drive it through
    * MemoryStream micro-batches.
    */
  def undoCountStream(tuples: DataFrame): Dataset[UndoCountOut] = {
    val spark = tuples.sparkSession
    import spark.implicits._
    val ops = tuples
      .filter(col("p").isin("purchase", "click"))
      .select(col("s"), col("o"),
        when(col("p") === "purchase", 1L).otherwise(-1L).as("delta"),
        col("t"), col("seq"))
      .as[UndoOp]
    ops.groupByKey(r => (r.s, r.o))
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(undoCountHandler)
  }

  def streamUndoCountState(spark: SparkSession, sfDir: String): DataFrame = {
    val out = undoCountStream(
      Transform.extractFrom(streamingEvents(spark, sfDir)))
    val snap = runToTable(out.toDF(), OutputMode.Update(),
      "ss_stream_undo_count")
    // The Update-mode sink holds one snapshot row per key PER
    // micro-batch; ops is monotone per key, so the max-ops row is the
    // key's latest state. Required whenever the source splits input
    // across batches (multiple files, maxFilesPerTrigger) - with a
    // single batch it's a no-op, so correctness no longer rests on the
    // one-file-one-batch accident.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s"), col("a"), col("o"))
    snap.withColumn("mx", max(col("ops")).over(w))
      .filter(col("ops") === col("mx"))
      .select(col("s"), col("a"), col("o"), col("cnt"), col("last_t"))
      .orderBy(col("s"), col("a"), col("o"))
  }

  /** Ring-buffer update ≙ LastNCache.update: keep the N most recent
    * (t, seq, v) per key. Shared by the streaming state handler and the
    * typed batch aggregator so both faces have identical semantics.
    */
  def ringPut(buf: Seq[(Long, Long, Long)], row: (Long, Long, Long),
              n: Int): Seq[(Long, Long, Long)] =
    ((row +: buf).sortBy(r => (-r._1, -r._2))).take(n)

  private def lastnHandler(n: Int)(
      key: (String, Long), rows: Iterator[XfRow],
      state: GroupState[(Long, Seq[(Long, Long, Long)])]): Iterator[LastNSnap] = {
    val (ops0, buf0) = state.getOption.getOrElse((0L, Seq.empty))
    var ops = ops0
    val buf = rows.foldLeft(buf0) { (b, r) =>
      ops += 1L
      ringPut(b, (r.t, r.seq, r.v), n)
    }
    state.update((ops, buf))
    buf.iterator.zipWithIndex.map { case ((t, _, v), i) =>
      LastNSnap(key._1, key._2, v, t, i + 1L, ops)
    }
  }

  /** Last-N cache via flatMapGroupsWithState: bounded per-key state,
    * emits each key's current ring buffer (exploded with recency rank)
    * on update - ≙ the reference returning the updated lastn value from
    * `update` (caches.clj:62).
    */
  def streamLastnState(spark: SparkSession, sfDir: String,
                       n: Int = Config.lastNSize): DataFrame = {
    import spark.implicits._
    val xf = Transform(Transform.extractFrom(streamingEvents(spark, sfDir)))
      .filter(col("cache").isin(Config.cachesOf(LastN): _*))
      .as[XfRow]
    val out = xf.groupByKey(r => (r.cache, r.k))
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(lastnHandler(n))
    latestLastnSnapshot(
      runToTable(out.toDF(), OutputMode.Update(), "ss_stream_lastn"))
  }

  /** Select each key's latest ring-buffer snapshot from an Update-mode
    * sink (max-ops rows), exposing the LastNOut shape - shared by the
    * flatMapGroupsWithState and transformWithState faces.
    */
  private def latestLastnSnapshot(snap: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cache"), col("k"))
    snap.withColumn("mx", max(col("ops")).over(w))
      .filter(col("ops") === col("mx"))
      .select(col("cache"), col("k"), col("v"), col("t"),
        col("rn").cast(LongType).as("rn"))
      .orderBy(col("cache"), col("k"), col("rn"))
  }
}
