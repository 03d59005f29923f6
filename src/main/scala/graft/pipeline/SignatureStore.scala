package graft.pipeline

import graft.analytics.Sketches
import graft.core.{Graft, Memo}
import graft.streaming.StreamSum.{drain, fileStream}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions.{col, collect_list, collect_set, count, explode, expr, lag, lit, max, min, pmod, size, struct, substring, sum, when}

/** Materialized MinHash signature store: the shingle/hash relation and
  * the exploded LSH band stream are computed ONCE per (session, corpus)
  * and persisted, then shared by every dedup query in the session
  * (dd_minhash_lsh candidate generation, dd_ngram_jaccard verification,
  * pipe_corpus_clean's composed pipeline). Without it, each query
  * re-tokenizes and re-hashes the whole corpus - at 100 TB the
  * signature relation is exactly what you'd write to a table between
  * pipeline stages, so the cache stands in for that materialization.
  *
  * Every relation here is a `graft.core.Memo` entry for its corpus
  * dir; `Memo.release` drops them (e.g. between scale factors in one
  * session).
  */
object SignatureStore {

  /** doc_id + shingles + shingle hashes + token hashes (`hst`) - the
    * one tokenize+hash pass shared by minhash/LSH/Jaccard/SimHash
    * (Dedup.shinglesFrom); persisted on first use.
    */
  def shingles(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, sfDir, "shingles") {
      Dedup.shinglesFrom(Graft.tableParallel(spark, sfDir, "documents"))
        .persist()
    }

  /** (doc_id, band, band_hash) exploded - the LSH bucket key stream,
    * derived from the persisted shingle relation and itself persisted
    * (both the candidate join's build and probe side read it).
    *
    * `bandId` is the banding's cache identity: two callers using
    * DIFFERENT band functions on the same corpus must pass different
    * ids, or the second would silently receive the first one's
    * relation. Passing a function alone can't key the memo - lambda
    * instances have no stable identity.
    */
  def bands(spark: SparkSession, sfDir: String,
            bandId: String,
            bandExprs: DataFrame => DataFrame): DataFrame =
    Memo(spark, sfDir, ("bands", bandId)) {
      bandExprs(shingles(spark, sfDir)).persist()
    }

  /** Generic session-shared materialized pipeline tier, the same
    * discipline as `shingles`/`bands` extended UP the dedup pipeline:
    * the LSH candidate pairs, the Jaccard-verified edges, the exact
    * AllPairs truth and the resolved clusters are each "what you'd
    * write to a table between pipeline stages" at 100 TB — yet every
    * consumer face used to re-run the whole upstream chain (the
    * cluster consumers re-paid candidates + verify + the concomp
    * fixpoint per query). Computed once per (session, corpus, id) by
    * whichever face asks first, localCheckpoint'd (flat LogicalRDD
    * leaf: downstream plans stay small), reused by the rest.
    * Determinism: every tier is a deterministic relation of the
    * corpus, so consumers see bit-identical inputs either way.
    */
  def tier(spark: SparkSession, sfDir: String, id: String)
          (build: => DataFrame): DataFrame =
    Memo(spark, sfDir, ("tier", id))(build.localCheckpoint())

  /** Tier variant for builders that already materialize their result
    * (e.g. the concomp fixpoint checkpoints before returning) — a
    * second checkpoint would be one pure-overhead materialization job.
    */
  def tierRaw(spark: SparkSession, sfDir: String, id: String)
             (build: => DataFrame): DataFrame =
    Memo(spark, sfDir, ("tier", id))(build)

  /** `Memo.release`, kept for the benchmark harness, which calls it. */
  def release(spark: SparkSession, sfDir: String): Unit =
    Memo.release(spark, sfDir)

  // ---- incremental maintenance (append-only corpus) ------------------

  /** True iff `dir` holds at least one parquet file (recursively) -
    * the guard that keeps an incremental maintenance poll on a
    * not-yet-populated corpus directory a no-op instead of a schema-
    * inference error (an idle watch dir is the job's NATURAL state
    * between arrivals, not a failure).
    *
    * Probed through the Hadoop FileSystem API, NOT java.io.File: the
    * store/watch dirs are URIs in production (hdfs://, s3a://), and a
    * local-only probe would silently report "empty" for a remote store
    * that holds data - a wrong answer, not a failure.
    */
  private def hasParquet(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) && {
      val it = fs.listFiles(path, /* recursive = */ true)
      var found = false
      while (!found && it.hasNext()) {
        val f = it.next()
        found = f.isFile && f.getPath.getName.endsWith(".parquet")
      }
      found
    }
  }

  /** The writer `maintain` hands each micro-batch: `put(df, rel)` lands
    * `df` as `$storeDir/$rel/batch=$id`, the one store write.
    */
  private final class Put(storeDir: String, val id: Long) {
    def path(rel: String): String = s"$storeDir/$rel/batch=$id"
    def apply(df: DataFrame, rel: String): Unit =
      df.write.mode("overwrite").parquet(path(rel))
  }

  /** Catch the store at `storeDir` up with whatever `glob` files
    * appeared in `watchDir` since the last call - the one streaming
    * skeleton behind every `catchUp*`/`admit*` face. The file stream
    * over the watch dir (`fileStream`) is the increment tracker: its
    * processed-file log lives in `$storeDir/_checkpoint`, so each call
    * reads only NEW files, as one `drain` run, and
    * `perBatch` turns each micro-batch into store relations through
    * `put`. An empty or missing watch dir is a no-op.
    *
    * Exactly-once: `put` overwrites the batch's own `batch=<id>`
    * partition. A crash after a batch's writes but before its commit
    * marker makes the restarted stream re-run that batch id over the
    * same recorded files, and the overwrite replaces the partial or
    * complete first attempt instead of appending a duplicate - the
    * idempotent-sink half of foreachBatch's exactly-once contract; the
    * checkpoint's offset log is the replay half. `perBatch` must
    * therefore be a deterministic function of the batch and of what
    * earlier batches stored.
    */
  private def maintain(spark: SparkSession, watchDir: String,
                       storeDir: String, glob: String = "*.parquet")
                      (perBatch: (DataFrame, Put) => Unit): Unit = {
    Graft.ensureConf(spark)
    if (!hasParquet(spark, watchDir)) return // nothing has arrived yet
    drain(fileStream(spark, watchDir, glob), OutputMode.Append(),
      Some(s"$storeDir/_checkpoint")) { (batch, id) =>
      perBatch(batch, new Put(storeDir, id))
    }
  }

  /** The MinHash store: each new file's shingle and band relations.
    * Signatures are pure per-document functions, so the per-batch
    * append is exact - documents already in the store are never
    * re-read, re-tokenized or re-hashed, which at 100 TB is the
    * difference between touching today's arrivals and re-scanning the
    * corpus.
    */
  def catchUp(spark: SparkSession, watchDir: String,
              storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      // persist: the shingle pipeline (tokenize + 3-gram + md5-48)
      // feeds BOTH writes; without it bandsFrom re-derives the
      // un-cached lineage and every batch is hashed twice
      val sh = Dedup.shinglesFrom(batch).persist()
      try {
        put(sh, "shingles")
        put(Dedup.bandsFrom(sh), "bands")
      } finally sh.unpersist()
    }

  /** The LM store's doc-term relation, or its empty frame when
    * `admitLm` produced no batches (empty/missing glob) - the
    * storedOrEmpty discipline for the two streaming faces that read
    * the store directly (a raw parquet read throws AnalysisException
    * on the empty store instead of returning the empty answer).
    */
  private[graft] def storedLmDocTerms(spark: SparkSession,
                                      storeDir: String): DataFrame =
    storedOrEmpty(spark, s"$storeDir/lm_doc_terms",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS doc_id", "'' AS term", "id AS k")))

  /** Read a store relation, or an empty relation with the store's
    * schema when no batch has ever committed - a store that hasn't
    * seen data yet answers queries with zero rows, not an error.
    */
  private def storedOrEmpty(spark: SparkSession, dir: String,
                            empty: => DataFrame): DataFrame = {
    Graft.ensureConf(spark)
    if (hasParquet(spark, dir)) spark.read.parquet(dir).drop("batch")
    else empty
  }

  private def emptyLike(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)

  /** Zero-row relation with the shingle pipeline's exact schema. */
  private def emptyShingles(spark: SparkSession): DataFrame =
    emptyLike(spark, Dedup.shinglesFrom(
      spark.range(0).selectExpr("id AS doc_id", "'' AS text")))

  def storedShingles(spark: SparkSession, storeDir: String): DataFrame =
    storedOrEmpty(spark, s"$storeDir/shingles", emptyShingles(spark))

  def storedBands(spark: SparkSession, storeDir: String): DataFrame =
    storedOrEmpty(spark, s"$storeDir/bands",
      emptyLike(spark, Dedup.bandsFrom(emptyShingles(spark))))

  /** LSH candidate pairs from the incrementally-maintained store -
    * the same banded self-join as the batch `Dedup.minhashLsh`, so the
    * store's answer matches the batch oracle once caught up.
    */
  def storedCandidates(spark: SparkSession, storeDir: String): DataFrame = {
    val bands = storedBands(spark, storeDir)
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Embedding twin of `catchUp`: append each NEW embedding file's
    * (vec_id, label, LSH bucket) cell assignment to a persistent
    * store. The bucket is a pure per-vector function (the codegen'd
    * LshBucket expression), so the per-batch append is exact and old
    * vectors are never re-hashed; the store is the batch-queryable
    * face of the cells `ss_stream_ann_cand` keys its state on.
    */
  def catchUpEmbeddings(spark: SparkSession, watchDir: String,
                        storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch.select(col("vec_id"),
          col("label").cast(org.apache.spark.sql.types.LongType)
            .as("label"),
          org.apache.spark.sql.functions.expr(
            Similarity.bucketSpark("embedding")).as("bucket")), "cells")
    }

  /** Span-family twin of `catchUp`: append each NEW file's positional
    * gram relation (doc_id, pos, gh) - the span signature, a pure
    * per-document function - plus its per-doc token counts and its
    * PARTIAL per-batch gram counts (gh, n). Gram counts are additive,
    * so the store-wide count is an ordinary sum over the appended
    * partials at query time: the increment never re-reads, re-tokenizes
    * or re-counts documents already in the store, and the count
    * aggregation input is per-batch distinct grams, not the corpus.
    */
  def catchUpSpans(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      val toks = Dedup.spanToks(batch).persist()
      try {
        put(toks.select(col("doc_id"),
            org.apache.spark.sql.functions.size(col("toks"))
              .cast(org.apache.spark.sql.types.LongType).as("n_tokens")),
          "span_docs")
        val grams = Dedup.spanGrams(toks).persist()
        try {
          put(grams, "span_grams")
          put(grams.groupBy(col("gh"))
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("n")),
            "span_counts")
        } finally grams.unpersist()
      } finally toks.unpersist()
    }

  /** Dup-span coverage from the incrementally-maintained store: the
    * repeated-gram set comes from summing the per-batch partial counts,
    * the positional stream and token counts are read as stored - same
    * assembly as the one-shot `Dedup.dupSpansFrom`, so the store's
    * answer matches `dd_dup_spans`' oracle once caught up.
    */
  def storedDupSpans(spark: SparkSession, storeDir: String): DataFrame = {
    val base = storedOrEmpty(spark, s"$storeDir/span_docs",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS doc_id", "id AS n_tokens")))
    val grams = storedOrEmpty(spark, s"$storeDir/span_grams",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS doc_id", "CAST(id AS INT) AS pos", "id AS gh")))
    val dup = storedOrEmpty(spark, s"$storeDir/span_counts",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS gh", "id AS n")))
      .groupBy(col("gh"))
      .agg(org.apache.spark.sql.functions.sum(col("n")).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(col("gh"))
    Dedup.dupSpansAssemble(base,
      Dedup.islandsFromCovered(
        grams.join(dup, "gh").select(col("doc_id"), col("pos"))))
  }

  /** Quality-gate twin of `catchUp` - the one store in the family whose
    * query-time answer is NOT a union of per-document facts: the LM
    * signal scores every document under the CORPUS's unigram model, and
    * the model itself evolves with each append. So the store keeps what
    * IS per-document pure - the narrow row signals and each doc's term
    * multiset (doc_id, term, k) - plus additive per-batch partial term
    * counts, and defers scoring to query time: the final LM is the sum
    * of the partials, and a batch-1 document's NLL automatically
    * reflects batch-2's vocabulary. Documents are still never re-read
    * or re-tokenized; only the (vocabulary-sized) count relation is
    * re-aggregated per query.
    */
  def catchUpLm(spark: SparkSession, watchDir: String,
                storeDir: String): Unit =
    maintainLm(spark, watchDir, storeDir, glob = "*.parquet",
      admissions = false)

  /** Streaming ADMISSION against the evolving LM: like `catchUpLm`,
    * but after folding a micro-batch's partials into the store, the
    * batch's documents are scored and gated against the store's
    * CURRENT summed partials (which now include this batch) and the
    * verdicts land in `lm_admissions/batch=<id>` - the decision the
    * pipeline acted on at arrival time, kept next to the re-scorable
    * partials. An earlier batch's admission record never changes; its
    * CURRENT score (`storedQualityGate`) evolves with the vocabulary,
    * and the spec pins both halves.
    */
  def admitLm(spark: SparkSession, watchDir: String, storeDir: String,
              glob: String = "*.parquet"): Unit =
    maintainLm(spark, watchDir, storeDir, glob, admissions = true)

  private def maintainLm(spark: SparkSession, watchDir: String,
                         storeDir: String, glob: String,
                         admissions: Boolean): Unit =
    maintain(spark, watchDir, storeDir, glob) { (batch, put) =>
      put(QualityGate.rowSignals(batch), "lm_signals")
      // doc -> source, for the per-source cap face; per-doc-pure,
      // so plain append like the signals. A feed without a source
      // column (the LM store doesn't require one) just skips the
      // relation - storedSourceCap then reads an empty store.
      if (batch.columns.contains("source"))
        put(batch.select(col("doc_id"), col("source")), "lm_sources")
      val terms = QualityGate.termToks(batch)
        .groupBy(col("doc_id"), col("term"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("k"))
        .persist()
      try {
        put(terms, "lm_doc_terms")
        put(terms.groupBy(col("term"))
          .agg(org.apache.spark.sql.functions.sum(col("k")).as("n")),
          "lm_term_counts")
        if (admissions) {
          // score THIS batch against the store's current partials
          // (the freshly-written ones included) - literally the
          // query-time scoring core, restricted to the batch's docs
          val sig = spark.read
            .parquet(put.path("lm_signals"))
          val dts = spark.read
            .parquet(put.path("lm_doc_terms"))
          put(QualityGate.withKeep(
            sig.join(lmNllAgainstStore(spark, storeDir, dts),
              Seq("doc_id"), "left")), "lm_admissions")
        }
      } finally terms.unpersist()
    }

  /** doc_id -> nll for an arbitrary (doc_id, term, k) relation, scored
    * under the LM summed from the store's current `lm_term_counts`
    * partials. Shared by the query-time re-scorer (`storedQualityGate`)
    * and the per-batch admission face (`admitLm`), so the two cannot
    * drift.
    */
  private[graft] def lmNllAgainstStore(spark: SparkSession,
                                       storeDir: String,
                                       docTerms: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, count, expr, sum}
    val freq = storedOrEmpty(spark, s"$storeDir/lm_term_counts",
      emptyLike(spark, spark.range(0)
        .selectExpr("'' AS term", "id AS n")))
      .groupBy(col("term")).agg(sum(col("n")).as("cnt"))
    val totals = freq.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("v_size")).collect()(0)
    val (nTotal, vSize) =
      if (totals.isNullAt(0)) (0L, 0L)
      else (totals.getLong(0), totals.getLong(1))
    // k identical tokens contribute k * nll_u - the same integer sum
    // the one-shot per-token pass produces, in any order
    docTerms.join(broadcast(freq), "term")
      .select(col("doc_id"), col("k"), expr(
        s"""CAST(floor(-ln(CAST(cnt + 1 AS DOUBLE)
           |  / CAST(${nTotal}L + ${vSize}L AS DOUBLE)) * 1000000.0 + 0.5)
           |  AS BIGINT)""".stripMargin).as("nll_u"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("nll_u")).as("sum_u"),
        sum(col("k")).as("n_tok"))
      .select(col("doc_id"),
        ParityMath.q6((col("sum_u").cast("double") / lit(1000000.0))
          / col("n_tok")).as("nll"))
  }

  /** Quality verdicts from the incrementally-maintained store: the LM
    * is summed from the per-batch partials, every stored document's
    * term multiset is scored under it, and the verdict rule is the
    * shared `QualityGate.withKeep` - so the store's answer matches
    * `pipe_quality_gate`'s oracle once caught up.
    */
  def storedQualityGate(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val signals = storedOrEmpty(spark, s"$storeDir/lm_signals",
      emptyLike(spark, QualityGate.rowSignals(
        spark.range(0).selectExpr("id AS doc_id", "'' AS text"))))
    val docTerms = storedOrEmpty(spark, s"$storeDir/lm_doc_terms",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS doc_id", "'' AS term", "id AS k")))
    val nll = lmNllAgainstStore(spark, storeDir, docTerms)
    QualityGate.withKeep(signals.join(nll, Seq("doc_id"), "left"))
      .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
        col("stop_ratio"), col("dup_tri_ratio"), col("rep2_ratio"),
        col("nll"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // ---- sketch stores -------------------------------------------------

  // ---- session store -------------------------------------------------

  /** Incremental sessionization: each arriving batch is sessionized
    * ALONE (the shared lag/gap core) and lands its session FRAGMENTS -
    * (user, start, end, n) - per batch; the global sessions are
    * recovered at query time by a gap-merge sweep over the fragments.
    * Exactness argument: a batch-local adjacent pair within the gap is
    * within the gap globally (every event between them is closer
    * still), so fragments are sub-sessions of global sessions; and for
    * any global adjacent pair within the gap that spans two fragments,
    * the later fragment starts within the gap of the earlier's end, so
    * the sorted sweep merges their clusters - the sweep's transitive
    * closure IS the session partition. Event counts are additive over
    * fragments. The fill input is fragment-sized, never raw events -
    * the 48-family structure applied to the one event-family operator
    * whose answer genuinely spans batch boundaries.
    */
  def catchUpSessions(spark: SparkSession, watchDir: String,
                      storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.Tpch.sessionFrom(
          batch.filter(col("ts").isNotNull && col("user_id").isNotNull)
            .select(col("user_id"), col("event_id"),
              expr("graft_ts_us(ts)").as("t")))
        .select(col("user_id"), col("start_t"), col("end_t"),
          col("n_events")), "session_frags")
    }

  /** Global sessions from the stored fragments: per user, sort by
    * (start, end) and open a new session when a fragment starts more
    * than the gap after the running max end - the interval-union-
    * with-gap sweep. Matches `q_sessionize`'s oracle once caught up.
    */
  def storedSessions(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val frags = storedOrEmpty(spark, s"$storeDir/session_frags",
      emptyLike(spark, spark.range(0).selectExpr("id AS user_id",
        "id AS start_t", "id AS end_t", "id AS n_events")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("start_t"), col("end_t"))
    val prevMax = max(col("end_t"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    frags
      .withColumn("new_sess",
        when(prevMax.isNull ||
          col("start_t") - prevMax > graft.analytics.Tpch.sessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("start_t")).as("start_t"), max(col("end_t")).as("end_t"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Driver-gate face: fresh store, two event-parity appends (maximal
    * cross-batch interleave - nearly every session is split), then the
    * fragment merge; shares `q_sessionize`'s oracle.
    */
  def gatedSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "sess")(catchUpSessions)
    storedSessions(spark, store)
  }

  // ---- cohort store --------------------------------------------------

  /** Incremental cohort retention: each arriving batch lands its
    * DISTINCT (user, week) facts - batch-sized, additive under
    * union-distinct. Like the LM stores, the ANSWER is not a union of
    * per-batch answers: a user's cohort week is the min over ALL
    * arrivals, so an older batch arriving later legitimately moves
    * users into an earlier cohort and re-shapes the whole matrix -
    * which is why the matrix math is deferred to query time over the
    * stored facts (via literally the batch `cohortMatrixFrom`).
    * Catch-up cost tracks arrivals; query cost tracks the distinct
    * (user, week) relation, never raw events.
    */
  def catchUpCohort(spark: SparkSession, watchDir: String,
                    storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch.filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), expr(ParityMath.fdivSql("graft_ts_us(ts)",
          s"${graft.analytics.Behavior.cohortWeekUs}L"))
          .as("w"))
        .distinct(), "user_weeks")
    }

  /** The retention matrix from the stored facts: cross-batch distinct
    * (the same (user, week) may arrive in many batches), per-user set,
    * then the shared matrix math. Matches `q_cohort`'s oracle once
    * caught up.
    */
  def storedCohort(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val uw = storedOrEmpty(spark, s"$storeDir/user_weeks",
      emptyLike(spark, spark.range(0).selectExpr("id AS user_id",
        "id AS w")))
    graft.analytics.Behavior.cohortMatrixFrom(
      uw.select(col("user_id"), col("w")).distinct()
        .groupBy(col("user_id"))
        .agg(collect_set(col("w")).as("ws")))
  }

  /** Driver-gate face: fresh store, two event-parity appends (users'
    * first-activity weeks split across batches, so cohort assignment
    * must re-derive under the union), then the deferred matrix;
    * shares `q_cohort`'s oracle.
    */
  def gatedCohort(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "cohort")(catchUpCohort)
    storedCohort(spark, store)
  }

  // ---- decay store ---------------------------------------------------

  /** Incremental decayed-count cache: per-batch (p, s, o, day) partial
    * counts — ADDITIVE, the sketch-store structure — with the decay
    * applied at query time against the CURRENT max day (via literally
    * the batch `decayFromBuckets`). The evolving-answer contract in
    * its sharpest form: every stored bucket's weight halves each time
    * a new day arrives, so no per-batch decayed value could ever be
    * unioned — only the bucketed counts are storable state.
    */
  def catchUpDecay(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.TimeSeries.decayBuckets(
          graft.core.Transform.extractFrom(batch)), "day_counts")
    }

  def storedDecay(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val b = storedOrEmpty(spark, s"$storeDir/day_counts",
      emptyLike(spark, spark.range(0).selectExpr("CAST(id AS STRING) AS p",
        "id AS s", "id AS o", "id AS day", "id AS c")))
    graft.analytics.TimeSeries.decayFromBuckets(
      b.groupBy(col("p"), col("s"), col("o"), col("day"))
        .agg(sum(col("c")).as("c")))
  }

  /** Driver-gate face: parity-split appends (the same (key, day)
    * bucket accumulates across batches), then the query-time decay;
    * shares `q_decay_count`'s oracle.
    */
  def gatedDecay(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "decay")(catchUpDecay)
    storedDecay(spark, store)
  }

  // ---- xcorr store ---------------------------------------------------

  /** Incremental CCF store: per-batch (type, hour) partial counts —
    * ADDITIVE under any batch split (plain sums), the decay store's
    * structure on the correlation axis — with the densify/align/
    * Pearson chain a query-time VIEW through the batch
    * `xcorrFromBuckets` (one arriving event shifts its bucket and
    * every pair that bucket touches, so no per-batch correlation
    * could ever be unioned).
    */
  def catchUpXcorr(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.TimeSeries.xcorrBuckets(batch), "hour_counts")
    }

  def storedXcorr(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val b = storedOrEmpty(spark, s"$storeDir/hour_counts",
      emptyLike(spark, spark.range(0).selectExpr(
        "CAST(id AS STRING) AS et", "id AS h", "id AS c")))
    graft.analytics.TimeSeries.xcorrFromBuckets(
      b.groupBy(col("et"), col("h")).agg(sum(col("c")).as("c")))
  }

  /** Driver-gate face: parity-split appends (the same (type, hour)
    * bucket accumulates across batches), then the query-time view;
    * shares `q_xcorr`'s oracle.
    */
  def gatedXcorr(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "xcorr")(catchUpXcorr)
    storedXcorr(spark, store)
  }

  // ---- seasonality store ---------------------------------------------

  /** Incremental seasonality store: per-batch (dow, hour) cell-count
    * PARTIALS — ADDITIVE and bounded at 168 cells per batch (the
    * chisq store's structure on the calendar axis) — with the lift a
    * query-time VIEW through the batch `seasonalityFromCells` (every
    * arriving event moves the total every cell divides by). The
    * shared `seasonalityCells` carries the operator's `tus >= 0`
    * contract into each landing.
    */
  def catchUpSeasonality(spark: SparkSession, watchDir: String,
                         storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.TimeSeries.seasonalityCells(batch), "cells")
    }

  /** Driver-gate face: parity-split appends (most cells land counts
    * in both batches), then the query-time lift view; shares
    * `q_seasonality`'s oracle.
    */
  def gatedSeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "season")(catchUpSeasonality)
    graft.analytics.TimeSeries.seasonalityFromCells(
      storedOrEmpty(spark, s"$store/cells",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS dow", "id AS hour", "id AS n_events")))
        .groupBy(col("dow"), col("hour"))
        .agg(sum(col("n_events")).as("n_events")))
  }

  // ---- lorenz store --------------------------------------------------

  /** Incremental Lorenz store: per-batch (user_id, x) count PARTIALS —
    * ADDITIVE under any batch split (the xcorr store's structure on
    * the concentration axis) — with the global rank, deciles and
    * cumulative shares a query-time VIEW through the batch
    * `lorenzFromCounts` (one arriving event re-ranks its user
    * globally, so no per-batch curve could ever be unioned).
    */
  def catchUpLorenz(spark: SparkSession, watchDir: String,
                    storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch.filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("x")), "user_counts")
    }

  /** Driver-gate face: parity-split appends (most users land counts
    * in both batches — the additive sum does real work), then the
    * query-time curve; shares `q_lorenz`'s oracle.
    */
  def gatedLorenz(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "lorenz")(catchUpLorenz)
    graft.analytics.Tpch.lorenzFromCounts(
      storedOrEmpty(spark, s"$store/user_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS user_id", "id AS x")))
        .groupBy(col("user_id")).agg(sum(col("x")).as("x")))
  }

  /** Gini view over the SAME per-user count landing as the Lorenz
    * store (the curve is gini's integrand — one store discipline, two
    * concentration views): additive partials, global rank at query
    * time through the batch `giniFromCounts`; shares `q_gini`'s
    * oracle.
    */
  def gatedGini(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "gini")(catchUpLorenz)
    graft.analytics.Tpch.giniFromCounts(
      storedOrEmpty(spark, s"$store/user_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS user_id", "id AS x")))
        .groupBy(col("user_id")).agg(sum(col("x")).as("x")))
  }

  // ---- trimmed-mean store --------------------------------------------

  /** Incremental trimmed-mean store: per-batch (event_type, v_mu)
    * value-count PARTIALS — ADDITIVE under any batch split — with the
    * rank trim a query-time VIEW through the shared
    * `trimmedFromValueCounts` (one arriving value shifts every rank
    * above it, so no per-batch trim could ever be unioned; ties at
    * the boundary make value-level counts a SUFFICIENT state, the
    * fold's documented equivalence).
    */
  def catchUpTrimmed(spark: SparkSession, watchDir: String,
                     storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
            .as("v_mu"))
        .groupBy(col("event_type"), col("v_mu"))
        .agg(count(lit(1)).as("c")), "value_counts")
    }

  /** Driver-gate face: parity-split appends, query-time trim; shares
    * `q_trimmed_mean`'s oracle.
    */
  def gatedTrimmedMean(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "trim")(catchUpTrimmed)
    graft.analytics.Tpch.trimmedFromValueCounts(
      storedOrEmpty(spark, s"$store/value_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "CAST(id AS STRING) AS event_type", "id AS v_mu", "id AS c")))
        .groupBy(col("event_type"), col("v_mu"))
        .agg(sum(col("c")).as("c")))
  }

  // ---- emb-mmd store -------------------------------------------------

  /** Incremental embedding-drift store: per-batch (cohort, dimension)
    * component-sum PARTIALS off the embeddings stream — ADDITIVE
    * under any batch split, dims-sized per batch — with the
    * squared-mean-distance fold a query-time VIEW through the shared
    * `mmdFromDimSums`.
    */
  def catchUpEmbMmd(spark: SparkSession, watchDir: String,
                    storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .select(pmod(col("vec_id"), lit(2)).as("grp"),
          org.apache.spark.sql.functions.posexplode(col("embedding"))
            .as(Seq("pos", "v")))
        .select(col("grp"), col("pos").cast("long").as("pos"),
          expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) " +
            "AS BIGINT)").as("v_mu"))
        .groupBy(col("grp"), col("pos"))
        .agg(sum(col("v_mu")).as("s"), count(lit(1)).as("n")), "dim_sums")
    }

  /** Driver-gate face: vec-parity appends, query-time fold; shares
    * `emb_mmd`'s oracle.
    */
  def gatedEmbMmd(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "embeddings",
      pmod(col("vec_id"), lit(4)) < 2, "mmd")(catchUpEmbMmd)
    graft.pipeline.Similarity.mmdFromDimSums(
      storedOrEmpty(spark, s"$store/dim_sums",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS grp", "id AS pos", "id AS s", "id AS n"))))
  }

  // ---- ddsketch store --------------------------------------------------

  /** Incremental quantile-sketch store: per-batch (cohort, log-bin)
    * count PARTIALS off the events stream — ADDITIVE under any batch
    * split (the log-binned counters ARE the DDSketch-class mergeable
    * state), layout-bounded per batch — with the quantile walk a
    * query-time VIEW through the shared `ddsketchDriftFromBinCounts`.
    */
  def catchUpDdsketch(spark: SparkSession, watchDir: String,
                      storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(Sketches.ddBinCounts(batch), "dd_bins")
    }

  /** Driver-gate face: event-parity appends, query-time fold; shares
    * `q_ddsketch_drift`'s oracle.
    */
  def gatedDdsketch(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "dd")(catchUpDdsketch)
    Sketches.ddsketchDriftFromBinCounts(
      storedOrEmpty(spark, s"$store/dd_bins",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS grp", "id AS bin", "id AS c"))))
  }

  // ---- emb-mmd-rbf store -----------------------------------------------

  /** Incremental RBF-drift store: per-batch (cohort, feature) RFF
    * cos-sum PARTIALS off the embeddings stream — ADDITIVE under any
    * batch split, 2·D rows per batch — with the kernel-MMD fold a
    * query-time VIEW through the shared `rbfMmdFromFeatureSums`.
    */
  def catchUpEmbMmdRbf(spark: SparkSession, watchDir: String,
                       storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.pipeline.Similarity.rbfFeatureSums(batch), "feature_sums")
    }

  /** Driver-gate face: vec-parity appends, query-time fold; shares
    * `emb_mmd_rbf`'s oracle.
    */
  def gatedEmbMmdRbf(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "embeddings",
      pmod(col("vec_id"), lit(4)) < 2, "mmdrbf")(catchUpEmbMmdRbf)
    graft.pipeline.Similarity.rbfMmdFromFeatureSums(
      storedOrEmpty(spark, s"$store/feature_sums",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS grp", "id AS i", "id AS s", "id AS n"))))
  }

  // ---- emb-energy store --------------------------------------------------

  /** Incremental sliced-energy store: per-batch (dir, grp, p) count
    * PARTIALS off the embeddings stream — ADDITIVE under any batch
    * split, values-sized per batch — with the rank-prefix energy fold
    * a query-time VIEW through the shared `energyFromProjCounts`.
    */
  def catchUpEmbEnergy(spark: SparkSession, watchDir: String,
                       storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.pipeline.Similarity.energyProjCounts(batch), "proj_counts")
    }

  /** Driver-gate face: vec-parity appends, query-time fold; shares
    * `emb_energy`'s oracle.
    */
  def gatedEmbEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "embeddings",
      pmod(col("vec_id"), lit(4)) < 2, "energy")(catchUpEmbEnergy)
    graft.pipeline.Similarity.energyFromProjCounts(
      storedOrEmpty(spark, s"$store/proj_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS dir", "id AS grp", "id AS p", "id AS c"))))
  }

  // ---- spearman store ------------------------------------------------

  /** Incremental Spearman store: per-batch (x, y) pair-count PARTIALS
    * off the lineitem stream — ADDITIVE under any batch split — with
    * the per-axis ranks and the closed formula a query-time VIEW
    * through the shared `spearmanFromPairCounts` (one arriving row
    * shifts every rank above its values on BOTH axes).
    */
  def catchUpSpearman(spark: SparkSession, watchDir: String,
                      storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .select(expr("CAST(l_quantity AS BIGINT)").as("x"),
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)")
            .as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("k")), "pair_counts")
    }

  /** Driver-gate face: orderkey-parity appends, query-time ranks;
    * shares `q_spearman`'s oracle.
    */
  def gatedSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "lineitem", parity("l_orderkey"),
      "sp")(catchUpSpearman)
    graft.analytics.Tpch.spearmanFromPairCounts(
      storedOrEmpty(spark, s"$store/pair_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS x", "id AS y", "id AS k")))
        .groupBy(col("x"), col("y")).agg(sum(col("k")).as("k")))
  }

  // ---- kruskal store ---------------------------------------------------

  /** Incremental Kruskal–Wallis store: per-batch (type, value) count
    * PARTIALS — ADDITIVE under any batch split — with pooled ranks,
    * the tie term and H a query-time VIEW through the shared
    * `kruskalFromCounts`.
    */
  def catchUpKruskal(spark: SparkSession, watchDir: String,
                     storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type").as("et"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
            .as("v_mu"))
        .groupBy(col("et"), col("v_mu"))
        .agg(count(lit(1)).as("c")), "type_value_counts")
    }

  /** Driver-gate face: parity-split appends, query-time test; shares
    * `q_kruskal`'s oracle.
    */
  def gatedKruskal(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "kw")(catchUpKruskal)
    graft.analytics.Behavior.kruskalFromCounts(
      storedOrEmpty(spark, s"$store/type_value_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "CAST(id AS STRING) AS et", "id AS v_mu", "id AS c")))
        .groupBy(col("et"), col("v_mu"))
        .agg(sum(col("c")).as("c")))
  }

  /** Driver-gate face of the Dunn post-hoc over the SAME landed
    * (type, value) count fact the Kruskal store maintains — one
    * store, two query-time views; shares `q_dunn`'s oracle.
    */
  def gatedDunn(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "dunn")(catchUpKruskal)
    graft.analytics.Behavior.dunnFromCounts(
      storedOrEmpty(spark, s"$store/type_value_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "CAST(id AS STRING) AS et", "id AS v_mu", "id AS c")))
        .groupBy(col("et"), col("v_mu"))
        .agg(sum(col("c")).as("c")))
  }

  // ---- mann-whitney store --------------------------------------------

  /** Incremental Mann–Whitney store: per-batch (cohort, value)
    * count PARTIALS — ADDITIVE under any batch split (the trimmed
    * store's structure with the cohort key) — with ranks, the tie
    * correction and z a query-time VIEW through the shared
    * `mannWhitneyFromCounts`.
    */
  def catchUpMannWhitney(spark: SparkSession, watchDir: String,
                         storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(pmod(col("user_id"), lit(2)).as("grp"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
            .as("v_mu"))
        .groupBy(col("grp"), col("v_mu"))
        .agg(count(lit(1)).as("c")), "grp_value_counts")
    }

  /** Kolmogorov–Smirnov view over the SAME (cohort, value) count
    * landing as the Mann–Whitney store — one store discipline, two
    * test views (the lorenz/gini pairing on the test axis); shares
    * `q_ks_test`'s oracle.
    */
  def gatedKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "ks")(catchUpMannWhitney)
    graft.analytics.Behavior.ksFromCounts(
      storedOrEmpty(spark, s"$store/grp_value_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS grp", "id AS v_mu", "id AS c")))
        .groupBy(col("grp"), col("v_mu"))
        .agg(sum(col("c")).as("c")))
  }

  /** Driver-gate face: parity-split appends, query-time test; shares
    * `q_mannwhitney`'s oracle.
    */
  def gatedMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "mw")(catchUpMannWhitney)
    graft.analytics.Behavior.mannWhitneyFromCounts(
      storedOrEmpty(spark, s"$store/grp_value_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS grp", "id AS v_mu", "id AS c")))
        .groupBy(col("grp"), col("v_mu"))
        .agg(sum(col("c")).as("c")))
  }

  // ---- pacf (ACF fragment) store -------------------------------------

  /** Incremental ACF/PACF store: each arriving batch lands one
    * per-user FRAGMENT — the batch's (tus, event_id, v_mu) structs as
    * an unsorted list (the seq-pattern store's discipline on the
    * value axis: fragments are disjoint appends, concatenation + one
    * sort equals sorting the union, so the merge is exact under ANY
    * batch split with no arrival-order contract). The lag pairs, the
    * pooled ACF and the Durbin–Levinson fold are all query-time views
    * through the batch faces' shared `acfPairsFromValues` /
    * `acfFromPairs` / `pacfFromAcf` — one arriving event creates lag
    * pairs against events stored batches ago, so no pair relation is
    * storable per batch.
    */
  def catchUpAcfFrags(spark: SparkSession, watchDir: String,
                      storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), expr("graft_ts_us(ts)").as("tus"),
          col("event_id"),
          expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
            .as("v_mu"))
        .groupBy(col("user_id"))
        .agg(collect_list(struct(col("tus"), col("event_id"),
          col("v_mu"))).as("buf")), "frags")
    }

  private def storedAcf(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val frags = storedOrEmpty(spark, s"$storeDir/frags",
      emptyLike(spark, spark.range(0).selectExpr("id AS user_id",
        "array(struct(id AS tus, id AS event_id, id AS v_mu)) AS buf")))
    graft.analytics.TimeSeries.acfFromPairs(
      graft.analytics.TimeSeries.acfPairsFromValues(
        frags.select(col("user_id"),
            explode(col("buf")).as("e"))
          .select(col("user_id"), col("e.tus").as("tus"),
            col("e.event_id").as("event_id"),
            col("e.v_mu").as("v0"))))
  }

  /** Driver-gate face: event-id-PARITY appends (every user's series
    * interleaves across the two batches, so the fragment merge must
    * reconstruct each user's global order from shuffled pieces), then
    * the Durbin–Levinson view; shares `q_pacf`'s oracle.
    */
  def gatedPacf(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "pacf")(catchUpAcfFrags)
    graft.analytics.TimeSeries.pacfFromAcf(spark, storedAcf(spark, store))
  }

  /** Pooled-ACF view over the SAME per-user value-fragment landing as
    * the PACF store (the ACF is its input — one fragment discipline,
    * two diagnostic views); shares `q_autocorr`'s oracle.
    */
  def gatedAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "acf")(catchUpAcfFrags)
    storedAcf(spark, store)
  }

  // ---- keyphrase store ----------------------------------------------

  /** Incremental RAKE store: each arriving batch tokenizes its docs
    * ONCE and lands the per-doc phrase-token facts (docs immutable →
    * disjoint appends, the simhash-store discipline); word deg/freq,
    * phrase scores and the top-k are a query-time VIEW through the
    * batch `rakeScore` — one arriving doc shifts every word's stats
    * and thereby every phrase's score, so scores are never storable
    * state (the bm25-store evolving-answer contract on the keyword
    * axis).
    */
  def catchUpKeyphrase(spark: SparkSession, watchDir: String,
                       storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(TextAnalysis.rakePhraseTokens(batch), "phtok")
    }

  def storedKeyphrase(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    TextAnalysis.rakeScore(storedOrEmpty(spark, s"$storeDir/phtok",
      emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
        "id AS grp", "CAST(id AS STRING) AS tok", "id AS plen",
        "CAST(id AS STRING) AS phrase"))))
  }

  /** Driver-gate face: doc-parity appends, then the query-time view;
    * shares `txt_keyphrase`'s oracle.
    */
  def gatedKeyphrase(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "rake")(catchUpKeyphrase)
    storedKeyphrase(spark, store)
  }

  // ---- novelty store ---------------------------------------------------

  /** Driver-gate face of `txt_novelty` over the BASE incremental
    * shingle store: no new landed relation at all - novelty is a
    * query-time view over the shingles the dedup store already
    * maintains (`noveltyFrom(storedShingles)`), so one store serves
    * LSH candidates, exact verification AND the novelty signal.
    * Doc-parity appends; shares `txt_novelty`'s oracle.
    */
  def gatedNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "nov")(catchUp)
    graft.pipeline.TextAnalysis.noveltyFrom(storedShingles(spark, store))
  }

  // ---- holt-winters store ----------------------------------------------

  /** Incremental Holt-Winters store: per-batch (type, day) partial
    * counts - ADDITIVE under any batch split - with the seasonal
    * recursion a query-time VIEW through the batch `hwFromBuckets`
    * (the catchUpTrend discipline on the per-type axis: one arriving
    * event changes its day's count and thereby every smoothed value
    * from that day forward, so only the bucket counts are storable
    * state).
    */
  def catchUpHw(spark: SparkSession, watchDir: String,
                storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.TimeSeries.hwBuckets(batch), "etday_counts")
    }

  def storedHw(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    graft.analytics.TimeSeries.hwFromBuckets(
      storedOrEmpty(spark, s"$storeDir/etday_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "CAST(id AS STRING) AS et", "id AS d", "id AS c")))
        .groupBy(col("et"), col("d")).agg(sum(col("c")).as("c")))
  }

  /** Driver-gate face: event-parity appends, then the query-time
    * view; shares `q_holt_winters`'s oracle.
    */
  def gatedHw(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "hw")(catchUpHw)
    storedHw(spark, store)
  }

  /** DTW view over the SAME additive (type, day) bucket store as the
    * Holt-Winters face: the warp distance is a whole-series function
    * (one arriving event shifts a day count and can reroute the whole
    * alignment path), so only the bucket matrix is storable state and
    * the min-plus DP runs at query time through `dtwFromBuckets`.
    */
  def gatedDtw(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "dtw")(catchUpHw)
    graft.analytics.TimeSeries.dtwFromBuckets(
      storedOrEmpty(spark, s"$store/etday_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "CAST(id AS STRING) AS et", "id AS d", "id AS c")))
        .groupBy(col("et"), col("d")).agg(sum(col("c")).as("c")))
  }

  /** Incremental Benford store: per-batch digit-count PARTIALS — the
    * rare store whose fact is a fixed NINE-row histogram, additive
    * under any batch split — with the frequency/chi view a query-time
    * recompute through the batch `benfordFromCounts` (total-N shifts
    * every digit's expected mass, so only the counts are storable).
    */
  def catchUpBenford(spark: SparkSession, watchDir: String,
                     storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.Tpch.benfordDigits(batch)
        .groupBy(col("digit")).agg(count(lit(1)).as("n")), "digit_counts")
    }

  def gatedBenford(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "benford")(catchUpBenford)
    graft.analytics.Tpch.benfordFromCounts(
      storedOrEmpty(spark, s"$store/digit_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS digit", "id AS n")))
        .groupBy(col("digit")).agg(sum(col("n")).as("n")))
  }

  /** Incremental chi-square store: per-batch (event_type, parity)
    * cell-count PARTIALS — additive under any batch split, the
    * catchUpBenford discipline — with margins, expectations and V a
    * query-time recompute through the batch `chisqFromCells`.
    */
  def catchUpChisq(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.Behavior.chisqCells(batch), "cells")
    }

  def gatedChisq(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "chisq")(catchUpChisq)
    graft.analytics.Behavior.chisqFromCells(
      storedOrEmpty(spark, s"$store/cells",
        emptyLike(spark, spark.range(0).selectExpr(
          "CAST(id AS STRING) AS et", "id AS grp", "id AS n")))
        .groupBy(col("et"), col("grp")).agg(sum(col("n")).as("n")))
  }

  /** Incremental stickiness store: per-batch distinct (day, user)
    * PARTIALS — set-mergeable under any batch split (a pair either
    * exists or not), with the window fold a query-time recompute
    * through the batch `stickinessFromDayUsers`.
    */
  def catchUpStickiness(spark: SparkSession, watchDir: String,
                        storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(expr(ParityMath.fdivSql("graft_ts_us(ts)", "86400000000")).as("d"),
          col("user_id"))
        .distinct(), "day_users")
    }

  def gatedStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "stick")(catchUpStickiness)
    graft.analytics.Behavior.stickinessFromDayUsers(
      storedOrEmpty(spark, s"$store/day_users",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS d", "id AS user_id")))
        .distinct())
  }

  /** Incremental fertility store: per-batch per-language ADDITIVE
    * sums of the within-row doc stats (the catchUpBenford discipline
    * on the documents watch), with the ratio report a query-time
    * recompute through `fertilityFromSums`.
    */
  def catchUpFertility(spark: SparkSession, watchDir: String,
                       storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.pipeline.TextAnalysis.fertilityDocStats(batch)
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_ws")).as("ws"),
          sum(col("n_bpe")).as("bpe"), sum(col("n_chars")).as("chars")),
        "lang_sums")
    }

  def gatedFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "fert")(catchUpFertility)
    graft.pipeline.TextAnalysis.fertilityFromSums(
      storedOrEmpty(spark, s"$store/lang_sums",
        emptyLike(spark, spark.range(0).selectExpr(
          "CAST(id AS STRING) AS pred_lang", "id AS n_docs",
          "id AS ws", "id AS bpe", "id AS chars")))
        .groupBy(col("pred_lang"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("ws")).as("ws"),
          sum(col("bpe")).as("bpe"), sum(col("chars")).as("chars")))
  }

  /** Incremental A/B store: per-batch per-user conversion-flag
    * PARTIALS — max-mergeable under any batch split (a user's flag
    * can only rise), with the pooled z a query-time recompute
    * through the batch `abtestFromFlags`.
    */
  def catchUpAbtest(spark: SparkSession, watchDir: String,
                    storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.Behavior.abtestFlags(batch), "flags")
    }

  def gatedAbtest(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "abtest")(catchUpAbtest)
    graft.analytics.Behavior.abtestFromFlags(
      storedOrEmpty(spark, s"$store/flags",
        emptyLike(spark, spark.range(0).selectExpr(
          "id AS user_id", "id AS grp", "id AS conv")))
        .groupBy(col("user_id"), col("grp"))
        .agg(max(col("conv")).as("conv")))
  }

  /** Burstiness view over the same additive bucket store (Fano needs
    * the corpus-wide densified span, so only the bucket matrix is
    * storable state - the gatedDtw argument).
    */
  def gatedBurst(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "burst")(catchUpHw)
    graft.analytics.TimeSeries.burstFromBuckets(
      storedOrEmpty(spark, s"$store/etday_counts",
        emptyLike(spark, spark.range(0).selectExpr(
          "CAST(id AS STRING) AS et", "id AS d", "id AS c")))
        .groupBy(col("et"), col("d")).agg(sum(col("c")).as("c")))
  }

  // ---- heaps store ---------------------------------------------------

  /** Incremental Heaps-curve store: per-batch partials are the two
    * merge-clean relations of the batch face - per-term min FIRST-doc
    * (min re-merges across batches at query time) and per-doc token
    * counts (docs arrive whole) - with the ten-row curve a query-time
    * VIEW through `heapsFromRelations`. Cumulative vocabulary is an
    * evolving-answer quantity: a late batch introducing an old term
    * EARLIER in doc-id order re-buckets it, which the min-merge
    * absorbs and any stored per-batch curve could not.
    */
  def catchUpHeaps(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      val toks = batch.select(col("doc_id"), explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      put(toks.groupBy(col("term")).agg(min(col("doc_id")).as("fd")), "fd")
      put(toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt")), "nt")
    }

  def storedHeaps(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val fd = storedOrEmpty(spark, s"$storeDir/fd",
      emptyLike(spark, spark.range(0).selectExpr(
        "CAST(id AS STRING) AS term", "id AS fd")))
      .groupBy(col("term")).agg(min(col("fd")).as("fd"))
    val nt = storedOrEmpty(spark, s"$storeDir/nt",
      emptyLike(spark, spark.range(0).selectExpr(
        "id AS doc_id", "id AS nt")))
    val lim = nt.agg(max(col("doc_id")) + 1L).head
    require(!lim.isNullAt(0), "heaps store: no documents landed yet")
    graft.pipeline.TextAnalysis.heapsFromRelations(
      spark, fd, nt, lim.getLong(0))
  }

  /** Driver-gate face: doc-parity appends, then the query-time view;
    * shares `txt_heaps`'s oracle.
    */
  def gatedHeaps(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "heaps")(catchUpHeaps)
    storedHeaps(spark, store)
  }

  // ---- stl store -----------------------------------------------------

  /** Incremental STL store: per-batch total-per-hour partial counts
    * (ADDITIVE under any batch split) with the densify/trend/seasonal
    * chain a query-time VIEW through the batch `stlFromBuckets` —
    * the xcorr store's structure on the decomposition axis.
    */
  def catchUpStl(spark: SparkSession, watchDir: String,
                 storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.TimeSeries.stlBuckets(batch), "hour_counts")
    }

  def storedStl(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val b = storedOrEmpty(spark, s"$storeDir/hour_counts",
      emptyLike(spark, spark.range(0).selectExpr("id AS h", "id AS c")))
    graft.analytics.TimeSeries.stlFromBuckets(
      b.groupBy(col("h")).agg(sum(col("c")).as("c")))
  }

  /** Driver-gate face: parity-split appends, then the query-time
    * view; shares `q_stl`'s oracle.
    */
  def gatedStl(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "stl")(catchUpStl)
    storedStl(spark, store)
  }

  // ---- trend store -----------------------------------------------------

  /** Incremental TREND store serving BOTH robust-trend views from one
    * per-batch landing of total-per-day partial counts (ADDITIVE
    * under any batch split — the stl store's structure on the daily
    * axis): the Mann–Kendall sign-pair test and the Theil–Sen
    * median-of-slopes estimator are each functions of the WHOLE
    * densified series (one arriving event flips the sign of every
    * pair its day touches and shifts the slope median), so both run
    * at query time through the batch faces' shared cores over the
    * summed counts — one store, the test and the estimator.
    */
  def catchUpTrend(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.TimeSeries.mkBuckets(batch), "day_counts")
    }

  private def storedDayCounts(spark: SparkSession,
                              storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    storedOrEmpty(spark, s"$storeDir/day_counts",
      emptyLike(spark, spark.range(0).selectExpr("id AS d", "id AS c")))
      .groupBy(col("d")).agg(sum(col("c")).as("c"))
  }

  private def trendStore(spark: SparkSession, sfDir: String,
                         name: String): String =
    gateStore(spark, sfDir, "events", parity("event_id"), name)(catchUpTrend)

  /** Driver-gate faces: event-parity appends (most days land counts in
    * both batches — the additive sum does real work), then the
    * query-time views; share `q_mannkendall`'s / `q_theilsen`'s
    * oracles.
    */
  def gatedMannKendall(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.TimeSeries.mkFromBuckets(
      storedDayCounts(spark, trendStore(spark, sfDir, "mk")))

  def gatedTheilsen(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.TimeSeries.theilsenFromBuckets(
      storedDayCounts(spark, trendStore(spark, sfDir, "tsen")))

  /** Changepoint view over the same day-count landing: the global
    * mean split-score rescales with any arrival, so only the additive
    * counts are storable and the cumulative scan re-derives at query
    * time. The batch face's `tus >= 0` contract becomes `d >= 0` here
    * — exactly equivalent under the floor-division bucketing (tus < 0
    * ⟺ d < 0), so the store face enforces the same contract the
    * oracle's WHERE clause does; shares `q_changepoint`'s oracle.
    */
  def gatedChangepoint(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.TimeSeries.changepointFrom(
      storedDayCounts(spark, trendStore(spark, sfDir, "chg"))
        .filter(col("d") >= 0L)
        .select(col("d").as("day"), col("c").as("n_events")))

  /** Runs-test view over the same day-count landing: the median — and
    * with it every day's above/below sign — shifts with any arriving
    * event, so only the additive counts are storable and the whole
    * sign/run chain re-derives at query time; shares `q_runs_test`'s
    * oracle.
    */
  def gatedRunsTest(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.TimeSeries.runsFromBuckets(
      storedDayCounts(spark, trendStore(spark, sfDir, "runs")))

  /** Periodogram view over the same day-count landing: the mean
    * centering rescales every day on any arrival, so only the
    * additive counts are storable and the spectral fold re-derives at
    * query time; shares `q_periodogram`'s oracle.
    */
  def gatedPeriodogram(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.TimeSeries.periodogramFromBuckets(
      storedDayCounts(spark, trendStore(spark, sfDir, "pgram")))

  /** Third view over the same day-count landing: the online CUSUM —
    * the reference level T/n shifts with EVERY arriving event, so the
    * whole excursion series re-derives at query time; shares
    * `q_cusum`'s oracle.
    */
  def gatedCusum(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.TimeSeries.cusumFromBuckets(
      storedDayCounts(spark, trendStore(spark, sfDir, "cusum")))

  // ---- jsd store -------------------------------------------------------

  /** Incremental DRIFT store: per-batch (source, term) partial counts
    * (a document tokenizes exactly once, ever; counts are ADDITIVE
    * under any batch split); the divergence report is a query-time
    * VIEW through the batch `jsdFromCounts` — one arriving doc shifts
    * N, its source's N_s and every term's marginal, so divergences
    * are never storable state (the tfidf evolving-answer contract on
    * the source axis).
    */
  def catchUpJsd(spark: SparkSession, watchDir: String,
                 storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch.select(col("source"), explode(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("cst")), "st_counts")
    }

  def storedJsd(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    TextAnalysis.jsdFromCounts(
      storedOrEmpty(spark, s"$storeDir/st_counts",
        emptyLike(spark, spark.range(0).selectExpr("'' AS source",
          "'' AS term", "id AS cst")))
        .groupBy(col("source"), col("term"))
        .agg(sum(col("cst")).as("cst")))
  }

  def gatedJsd(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "jsd")(catchUpJsd)
    storedJsd(spark, store)
  }

  // ---- rfm store -----------------------------------------------------

  /** Incremental RFM: each arriving orders batch lands its per-customer
    * rollup (max last-order time, order count, cents sum) — all three
    * merge ASSOCIATIVELY across batches (max/sum/sum), so the store
    * holds one customer-sized partial per batch and never re-reads
    * orders. The quintile ranking is a query-time VIEW over the merged
    * state (the batch `rfmFrom`): ONE new order can shift every other
    * customer's quintile boundary, so no score is storable state —
    * same evolving-answer contract as the decay store, on the ranking
    * axis instead of the time axis.
    */
  def catchUpRfm(spark: SparkSession, watchDir: String,
                 storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.Segmentation.rfmRollup(batch), "rollups")
    }

  def storedRfm(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val b = storedOrEmpty(spark, s"$storeDir/rollups",
      emptyLike(spark, spark.range(0).selectExpr("id AS o_custkey",
        "id AS last_us", "id AS frequency", "id AS monetary_cents")))
    graft.analytics.Segmentation.rfmFrom(
      b.groupBy(col("o_custkey"))
        .agg(max(col("last_us")).as("last_us"),
          sum(col("frequency")).as("frequency"),
          sum(col("monetary_cents")).as("monetary_cents")))
  }

  /** Driver-gate face: fresh store, two order-parity appends (a
    * customer's orders straddle the batches, so recency/frequency/
    * monetary must all merge, not overwrite), then the query-time
    * ranking; shares `q_rfm`'s oracle.
    */
  def gatedRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "orders", parity("o_orderkey"),
      "rfm")(catchUpRfm)
    storedRfm(spark, store)
  }

  // ---- qclf store ----------------------------------------------------

  /** Incremental face of the learned quality filter: each arriving
    * batch of documents lands its FEATURE relation (doc, bucket, x,
    * ymu — docs are immutable, so partials are disjoint appends;
    * "tokenize once", the evolving-LM stores' philosophy applied to
    * featurization). The model itself is NEVER stored: a training doc
    * arriving in a later batch changes every weight, so training is a
    * query-time fold over the stored training-sample features —
    * the evolving-model contract on the WEIGHTS axis.
    */
  def catchUpQclf(spark: SparkSession, watchDir: String,
                  storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.pipeline.QualityClassifier.featureRows(batch), "feats")
    }

  def storedQclf(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val feats = storedOrEmpty(spark, s"$storeDir/feats",
      emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
        "id AS bucket", "id AS x", "id AS ymu")))
    val (w, _) = graft.pipeline.QualityClassifier.gdTrain(
      feats.filter(col("doc_id") <
        graft.pipeline.QualityClassifier.qclfTrainN))
    graft.pipeline.QualityClassifier.scoreFrom(feats, w)
  }

  /** Driver-gate face: fresh store, two doc-parity appends (training
    * docs land in BOTH batches, so the query-time retrain must see the
    * union — weights trained on either half alone differ), then the
    * scoring view; shares `pipe_qclf_score`'s oracle.
    */
  def gatedQclf(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "qclf")(catchUpQclf)
    storedQclf(spark, store)
  }

  // ---- markov store --------------------------------------------------

  /** Incremental transition matrix: each arriving batch lands (a) its
    * WITHIN-batch (from, to) transition counts — additive — and (b)
    * one BOUNDARY record per active user (the batch's first and last
    * event key + type), from which the query-time merge re-derives the
    * junction transition between consecutive batches (prev batch's
    * last event → next batch's first event) with a lag over the
    * boundary relation. Per-batch state is users × 1 boundary rows +
    * a |types|²-bounded count matrix; raw events are never re-read.
    *
    * Exactness CONTRACT (narrower than the session/cohort stores, and
    * the honest one): batches must partition each user's timeline into
    * time-CONTIGUOUS chunks — i.e. arrivals are in event-time order,
    * the same arrival contract the streaming faces and the undo-cache
    * faces document. Under interleaved batches a first-order chain is
    * NOT recoverable from any bounded summary (an event inserted
    * between two stored events rewrites a transition), so the gate
    * face splits by TIME (midpoint day), not by the parity interleave
    * the order-free stores use.
    *
    * The contract is ENFORCED, not just documented (r9 verdict nit: an
    * out-of-order batch used to silently corrupt junction transitions):
    * each batch's per-user FIRST (tus, event_id) must be strictly
    * later than the user's stored LAST from earlier batches, checked
    * against the boundary relation (state-sized, keyed join) before
    * anything lands — violations throw. Replays of the same batch id
    * rewrite their own fragment and are exempt by the `batch < id`
    * filter.
    */
  def catchUpMarkov(spark: SparkSession, watchDir: String,
                    storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      val spark = batch.sparkSession
      val e = batch
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), expr("graft_ts_us(ts)").as("tus"),
          col("event_id"), col("event_type"))
      val bounds = e.groupBy(col("user_id"))
        .agg(min(struct(col("tus"), col("event_id"),
          col("event_type"))).as("f"),
          max(struct(col("tus"), col("event_id"),
            col("event_type"))).as("l"))
        .select(col("user_id"),
          col("f.tus").as("first_tus"),
          col("f.event_id").as("first_eid"),
          col("f.event_type").as("first_type"),
          col("l.tus").as("last_tus"),
          col("l.event_id").as("last_eid"),
          col("l.event_type").as("last_type"))
      // arrival-contract check: fail loudly on an out-of-order batch
      // instead of silently corrupting the junction transitions
      if (hasParquet(spark, s"$storeDir/boundaries")) {
        val prevLast = spark.read
          .parquet(s"$storeDir/boundaries")
          .filter(col("batch") < put.id)
          .groupBy(col("user_id"))
          .agg(max(struct(col("last_tus"), col("last_eid"))).as("pl"))
        val bad = bounds.join(prevLast, "user_id")
          .filter(struct(col("first_tus"), col("first_eid")) <=
            col("pl"))
          .select(col("user_id"), col("first_tus"),
            col("pl.last_tus"))
          .limit(3).collect()
        if (bad.nonEmpty) throw new IllegalStateException(
          "markov store arrival contract violated: batch events " +
            "precede already-stored events for users " +
            bad.map(_.getLong(0)).mkString("[", ", ", "]") +
            " - a first-order chain is not recoverable from " +
            "interleaved batches; deliver each user's timeline in " +
            "time-contiguous chunks")
      }
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      put(graft.analytics.Behavior.markovCount(
          e.withColumn("from_type", lag(col("event_type"), 1).over(w))
            .filter(col("from_type").isNotNull)
            .select(col("from_type"),
              col("event_type").as("to_type"))), "trans_counts")
      put(bounds, "boundaries")
    }

  /** The matrix from the stored fragments: summed within-batch counts
    * plus the lag-derived junction transitions over the boundary
    * relation, normalized by the shared batch fold. Matches
    * `q_markov`'s oracle once caught up (under the in-order contract).
    */
  def storedMarkov(spark: SparkSession, storeDir: String): DataFrame =
    graft.analytics.Behavior.markovMatrixFrom(
      storedMarkovCounts(spark, storeDir))

  /** The stored transition-count relation (within-batch partials plus
    * the lag-derived junction transitions over the boundary relation) —
    * the shared storable fact of EVERY first-order-chain view:
    * `storedMarkov` normalizes it into the matrix,
    * `storedMarkovEntropy` folds it into per-state entropy + the
    * chain's rate.
    */
  private def storedMarkovCounts(spark: SparkSession,
                                 storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val within = storedOrEmpty(spark, s"$storeDir/trans_counts",
      emptyLike(spark, spark.range(0).selectExpr(
        "CAST(id AS STRING) AS from_type",
        "CAST(id AS STRING) AS to_type", "id AS n_trans")))
    val b = storedOrEmpty(spark, s"$storeDir/boundaries",
      emptyLike(spark, spark.range(0).selectExpr("id AS user_id",
        "id AS first_tus", "id AS first_eid",
        "CAST(id AS STRING) AS first_type",
        "id AS last_tus", "id AS last_eid",
        "CAST(id AS STRING) AS last_type")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("first_tus"), col("first_eid"))
    val junction = b
      .withColumn("from_type", lag(col("last_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("first_type").as("to_type"))
    within.select(col("from_type"), col("to_type"), col("n_trans"))
      .unionByName(graft.analytics.Behavior.markovCount(junction))
  }

  /** Entropy-rate view over the SAME stored matrix as `storedMarkov`
    * (shared `storedMarkovCounts`), via the shared
    * `markovEntropyFrom` — so the store and its entropy reading can
    * never disagree on a count.
    */
  def storedMarkovEntropy(spark: SparkSession,
                          storeDir: String): DataFrame =
    graft.analytics.Behavior.markovEntropyFrom(
      storedMarkovCounts(spark, storeDir))

  /** Driver-gate face: fresh store, two TIME-contiguous appends split
    * at the midpoint day (users' chains straddle the cut, so the
    * junction stitch is exercised on nearly every user); shares
    * `q_markov`'s oracle.
    */
  def gatedMarkov(spark: SparkSession, sfDir: String): DataFrame =
    storedMarkov(spark, markovGateStore(spark, sfDir, "markov"))

  /** Same gate chain, entropy-rate view — shares `q_markov_entropy`'s
    * oracle.
    */
  def gatedMarkovEntropy(spark: SparkSession, sfDir: String): DataFrame =
    storedMarkovEntropy(spark,
      markovGateStore(spark, sfDir, "markov_entropy"))

  /** The shared markov gate chain: fresh store, two TIME-contiguous
    * appends split at the midpoint day (the arrival contract's honest
    * split), caught up through `catchUpMarkov`; returns the store dir
    * for whichever view the face reads.
    */
  private def markovGateStore(spark: SparkSession, sfDir: String,
                              tag: String): String = {
    val dayUs = graft.analytics.TimeSeries.decayHalflifeUs
    val day = expr(s"graft_ts_us(ts) DIV ${dayUs}L")
    val cut = Graft.table(spark, sfDir, "events")
      .filter(col("ts").isNotNull)
      .agg(expr(s"(min(graft_ts_us(ts) DIV ${dayUs}L) + " +
        s"max(graft_ts_us(ts) DIV ${dayUs}L)) DIV 2").as("c"))
      .first().getLong(0)
    gateStore(spark, sfDir, "events", day <= cut, tag)(catchUpMarkov)
  }

  // ---- seq-pattern store -----------------------------------------------

  /** Incremental store for the regex sequence matcher: each arriving
    * batch lands one per-user FRAGMENT - the batch's (tus, event_id,
    * initial) structs as an unsorted list. Fragments are disjoint
    * appends (events are immutable), concatenation of unsorted
    * fragments followed by one in-row sort equals sorting the union,
    * so the query-time merge is exact under ANY batch split - unlike
    * the markov store, no arrival-order contract is needed at all
    * (the spec-free claim the gate certifies with an event-id-parity
    * split, which interleaves every user's history across batches).
    * Per-batch state is users x 1 fragment rows; the regex report is
    * a view via the shared seqPatternFrom.
    */
  def catchUpSeq(spark: SparkSession, watchDir: String,
                 storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), expr("graft_ts_us(ts)").as("tus"),
          col("event_id"), substring(col("event_type"), 1, 1).as("c"))
        .groupBy(col("user_id"))
        .agg(collect_list(struct(col("tus"), col("event_id"), col("c")))
          .as("buf")), "frags")
    }

  def storedSeq(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val frags = storedOrEmpty(spark, s"$storeDir/frags",
      emptyLike(spark, spark.range(0).selectExpr("id AS user_id",
        "array(struct(id AS tus, id AS event_id, " +
          "CAST(id AS STRING) AS c)) AS buf")))
    graft.analytics.Behavior.seqPatternFrom(
      frags.groupBy(col("user_id"))
        .agg(expr("array_join(transform(array_sort(" +
          "flatten(collect_list(buf))), x -> x.c), '')").as("seq")))
  }

  /** Driver-gate face: fresh store, two event-id-PARITY appends (every
    * user's history interleaves across the two batches, so the
    * fragment merge must reconstruct the global order from shuffled
    * pieces), then the regex report; shares `q_seq_pattern`'s oracle.
    */
  def gatedSeq(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "seq")(catchUpSeq)
    storedSeq(spark, store)
  }

  // ---- survival store --------------------------------------------------

  /** Kaplan-Meier view over the SAME per-user event-history fragment
    * store as the seq-pattern face (`catchUpSeq`): the stored fact -
    * each batch's unsorted (tus, event_id) structs per user - is the
    * inherent state of any exact censoring estimator (an arriving
    * event turns a user's censored last gap into an observed one and
    * can move the corpus observation end, so neither the (day, deaths,
    * censored) relation nor the fold is additive). Fragments are
    * order-free (disjoint appends; the view's per-user window re-sorts
    * the union), the gap/censor/KM chain is literally the batch
    * `qSurvivalFrom`. The fragment's unused `c` column costs one
    * char per event and buys one store serving two views.
    */
  def storedSurvival(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val frags = storedOrEmpty(spark, s"$storeDir/frags",
      emptyLike(spark, spark.range(0).selectExpr("id AS user_id",
        "array(struct(id AS tus, id AS event_id, " +
          "CAST(id AS STRING) AS c)) AS buf")))
    graft.analytics.Behavior.qSurvivalFrom(
      frags.select(col("user_id"), explode(col("buf")).as("x"))
        .select(col("user_id"), col("x.tus").as("tus"),
          col("x.event_id").as("event_id")),
      graft.analytics.TimeSeries.dayUs)
  }

  /** Driver-gate face: fresh store, two event-id-PARITY appends (the
    * order-free split - every user's gap sequence interleaves across
    * batches, so the view must reconstruct consecutive pairs from
    * shuffled fragments); shares `q_survival`'s oracle.
    */
  def gatedSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "survival")(catchUpSeq)
    storedSurvival(spark, store)
  }

  /** Stratified KM + log-rank view over the SAME fragment store (the
    * cohort label is derivable from user_id, so the store needs no
    * extra column); shares `q_survival_logrank`'s oracle. Same
    * parity-split gate as `gatedSurvival`.
    */
  def gatedSurvivalLogrank(spark: SparkSession,
                           sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "logrank")(catchUpSeq)
    val frags = storedOrEmpty(spark, s"$store/frags",
      emptyLike(spark, spark.range(0).selectExpr("id AS user_id",
        "array(struct(id AS tus, id AS event_id, " +
          "CAST(id AS STRING) AS c)) AS buf")))
    graft.analytics.Behavior.survivalLogrankFrom(
      frags.select(col("user_id"), explode(col("buf")).as("x"))
        .select(pmod(col("user_id"), lit(2L)).as("grp"), col("user_id"),
          col("x.tus").as("tus"), col("x.event_id").as("event_id")),
      graft.analytics.TimeSeries.dayUs)
  }

  // ---- graph store ---------------------------------------------------

  /** Incremental interaction graph: each arriving batch lands its
    * DISTINCT (src, dst) interaction pairs (additive under
    * union-distinct, like the cohort facts). PageRank is a fixed
    * point of the WHOLE graph - no per-batch rank is reusable - so the
    * iteration runs at query time over the stored edge relation via
    * literally the batch `pagerankFrom`: catch-up cost tracks
    * arrivals, query cost tracks the edge relation, raw events are
    * never re-read.
    */
  def catchUpGraph(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.analytics.Graph.fwdPairs(
          graft.core.Transform.extractFrom(batch)), "edges")
    }

  /** Incremental COHESION store: per-batch DISTINCT (s, o)
    * interaction pairs (union-distinct-additive, the 48m discipline on
    * the unencoded relation), serving BOTH graph-cohesion views —
    * triangles and k-core are each fixpoints/motifs of the WHOLE
    * lift-filtered projection (one arriving interaction shifts every
    * degree and can re-admit a peeled node), so both run at query
    * time through the batch faces' shared cores over the stored union.
    */
  def catchUpCohesion(spark: SparkSession, watchDir: String,
                      storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(graft.core.Transform.extractFrom(batch)
        .select(col("s"), col("o")).distinct(), "so")
    }

  private def storedSo(spark: SparkSession, storeDir: String): DataFrame =
    storedOrEmpty(spark, s"$storeDir/so",
      emptyLike(spark, spark.range(0).selectExpr("id AS s", "id AS o")))
      .select(col("s"), col("o"))

  private def cohesionStore(spark: SparkSession, sfDir: String,
                            name: String): String =
    gateStore(spark, sfDir, "events", parity("event_id"), name)(catchUpCohesion)

  /** Driver-gate faces: event-parity appends (most pairs land in both
    * batches — the union-distinct does real work), then the query-time
    * view; share `q_triangles`' / `q_kcore`'s oracles (the batch
    * cores accept any (s, o) relation — capActive re-distincts).
    */
  def gatedTriangles(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.trianglesFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "tri")))

  def gatedKcore(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.kcoreFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "kcore")))

  /** K-truss view over the same union-distinct pair store (edge
    * supports are whole-projection fixpoints); shares `q_ktruss`'s
    * oracle.
    */
  def gatedKtruss(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.trussFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "truss")))

  /** Component view over the same union-distinct pair store: the
    * labeling is a fixpoint of the WHOLE edge relation (one arriving
    * pair can merge two components), so it runs at query time through
    * the batch face's `concompFrom` - the store holds only the
    * additive distinct-pair relation.
    */
  def gatedConcomp(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.concompFrom(spark,
      storedSo(spark, cohesionStore(spark, sfDir, "cc")))

  /** Degree-histogram, assortativity and BFS views over the same
    * union-distinct pair store: all three are whole-graph statistics
    * (one arriving pair shifts degrees / moments / distances
    * globally), so the store's only fact stays the additive pair
    * relation and each view runs at query time through its batch core.
    */
  def gatedDegreeDist(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.degreeDistFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "deg")))

  def gatedAssortativity(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.assortativityFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "assort")))

  def gatedBfsHops(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.bfsHopsFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "bfs")))

  /** Harmonic-closeness view over the same union-distinct pair store
    * (landmarks and distances are whole-graph facts); shares
    * `q_harmonic`'s oracle.
    */
  def gatedHarmonic(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.harmonicFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "harm")))

  /** Diameter-bound view over the same union-distinct pair store
    * (both sweeps and the component size are whole-graph facts);
    * shares `q_diameter`'s oracle.
    */
  def gatedDiameter(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.diameterFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "diam")))

  /** Landmark-betweenness view over the same union-distinct pair
    * store (path counts and dependencies are whole-graph fixpoints);
    * shares `q_betweenness`'s oracle.
    */
  def gatedBetweenness(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.betweennessFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "btw")))

  /** Clustering-coefficient view over the same union-distinct pair
    * store (degrees, the lift gate and every closure are
    * whole-projection facts); shares `q_lcc`'s oracle.
    */
  def gatedLcc(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.lccFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "lcc")))

  /** Link-prediction view over the same cohesion store: like the
    * triangle and core views, the candidate set is a function of the
    * WHOLE lift-filtered projection (one arriving interaction shifts
    * degrees, the lift gate, and every Adamic-Adar weight), so the
    * store's only fact stays the distinct (s, o) union and the wedge
    * scoring runs at query time through the batch `linkpredFrom`;
    * shares `q_linkpred`'s oracle.
    */
  def gatedLinkpred(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.linkpredFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "lp")))

  /** Community view over the same cohesion store: the fixed-round
    * propagation is a function of the WHOLE lift-filtered projection
    * (one arriving interaction re-routes every round's votes), so the
    * store's only fact stays the distinct (s, o) union and the
    * assignment runs at query time through the batch `lpaFrom`;
    * shares `q_lpa`'s oracle.
    */
  def gatedLpa(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.lpaFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "lpa")))

  /** Modularity view over the same cohesion store: the partition, its
    * degree masses and m all re-derive from the WHOLE lift-filtered
    * projection on any arrival, so the store's only fact stays the
    * distinct (s, o) union and the report runs at query time through
    * the batch `modularityFrom`; shares `q_modularity`'s oracle.
    */
  def gatedModularity(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.modularityFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "mod")))

  /** Global-transitivity view over the same cohesion store (wedges
    * and closures re-derive from the whole projection on any
    * arrival); shares `q_transitivity`'s oracle.
    */
  def gatedTransitivity(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.Graph.transitivityFrom(
      storedSo(spark, cohesionStore(spark, sfDir, "trans")))

  def storedPagerank(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val edges = storedOrEmpty(spark, s"$storeDir/edges",
      emptyLike(spark, spark.range(0).selectExpr("id AS src",
        "id AS dst")))
    graft.analytics.Graph.pagerankFrom(
      edges.select(col("src"), col("dst")).distinct())
  }

  /** PERSONALIZED-rank view over the same stored edge relation the
    * 48m graph store lands: like the global walk, the seeded rank is
    * a fixpoint of the WHOLE graph (one arriving edge re-routes mass
    * everywhere), so the store's only fact stays the edge union and
    * the restart iteration runs at query time through the batch
    * `pprFrom` — one store, both rank views; shares `q_ppr`'s oracle.
    */
  def storedPpr(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val edges = storedOrEmpty(spark, s"$storeDir/edges",
      emptyLike(spark, spark.range(0).selectExpr("id AS src",
        "id AS dst")))
    graft.analytics.Graph.pprFrom(
      edges.select(col("src"), col("dst")).distinct())
  }

  /** HITS view over the same stored edge relation: hubs and
    * authorities are the mutually-recursive fixpoint of the WHOLE
    * directed arc set (one arriving arc shifts every normalizer), so
    * the store's only fact stays the edge union and the
    * reinforcement iteration runs at query time through the batch
    * `hitsFrom` — one store, three rank views; shares `q_hits`'
    * oracle.
    */
  def storedHits(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val edges = storedOrEmpty(spark, s"$storeDir/edges",
      emptyLike(spark, spark.range(0).selectExpr("id AS src",
        "id AS dst")))
    graft.analytics.Graph.hitsFrom(
      edges.select(col("src"), col("dst")).distinct())
  }

  /** Katz view over the same stored edge relation: attenuated walk
    * counts are a fixpoint of the WHOLE graph (one arriving edge adds
    * walks through everything it reaches), so the store's only fact
    * stays the edge union and the truncated iteration runs at query
    * time through the batch `katzFrom` — one store, a fourth rank
    * view; shares `q_katz`'s oracle.
    */
  def storedKatz(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val edges = storedOrEmpty(spark, s"$storeDir/edges",
      emptyLike(spark, spark.range(0).selectExpr("id AS src",
        "id AS dst")))
    graft.analytics.Graph.katzFrom(
      edges.select(col("src"), col("dst")).distinct())
  }

  def gatedKatz(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "katz")(catchUpGraph)
    storedKatz(spark, store)
  }

  def gatedHits(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "hits")(catchUpGraph)
    storedHits(spark, store)
  }

  def gatedPpr(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "ppr")(catchUpGraph)
    storedPpr(spark, store)
  }

  /** Driver-gate face: fresh store, two event-parity appends (most
    * edges appear in both batches - the union-distinct is doing real
    * work), then the query-time fixed point; shares `q_pagerank`'s
    * oracle.
    */
  def gatedGraph(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "graph")(catchUpGraph)
    storedPagerank(spark, store)
  }

  /** Sketch twin of `catchUp` over an events directory: every sketch
    * in the family is a MERGEABLE summary, so incremental maintenance
    * is per-batch partials + the sketch's own merge at query time -
    * CMS counters are additive (sum), KMV buffers re-minimize
    * (distinct-union-take-k). This is how a production pipeline
    * actually keeps corpus-wide sketches current: each arriving
    * partition contributes a partition-sized sketch, and no stored
    * event is ever re-read or re-hashed.
    */
  def catchUpEventSketches(spark: SparkSession, watchDir: String,
                           storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(Sketches.cmsCounters(batch.select(col("user_id"))), "cms_part")
      put(Sketches.kmvSets(Sketches.kmvHashes(batch)), "kmv_part")
    }

  /** Lineitem twin: HLL register maxima merge by max, histogram bin
    * counts merge by sum.
    */
  def catchUpLineitemSketches(spark: SparkSession, watchDir: String,
                              storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(Sketches.hashRho(
          batch.select(col("l_returnflag"), col("l_orderkey")))
        .groupBy(col("l_returnflag"), col("reg"))
        .agg(org.apache.spark.sql.functions.max(col("rho")).as("mj")),
        "hll_part")
      put(Sketches.qtileBins(
          batch.select(col("l_returnflag"), col("l_extendedprice")))
        .groupBy(col("l_returnflag"), col("bin"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("c")),
        "qtile_part")
    }

  def storedCells(spark: SparkSession, storeDir: String): DataFrame =
    storedOrEmpty(spark, s"$storeDir/cells",
      emptyLike(spark, spark.range(0).selectExpr(
        "id AS vec_id", "id AS label", "id AS bucket")))

  /** Same-cell candidate pairs from the incrementally-maintained
    * embedding store - matches the batch `annCandidatesSql` oracle
    * once caught up.
    */
  def storedAnnCandidates(spark: SparkSession,
                          storeDir: String): DataFrame = {
    val cells = storedCells(spark, storeDir)
    cells.as("x").join(cells.as("y"),
        col("x.label") === col("y.label") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("x.label").as("label"))
      .distinct()
  }

  // ---- driver-gate faces ---------------------------------------------

  /** The two-arrival harness shared by every driver-gate store face:
    * fresh watch and store dirs, then `table` lands as
    * `filter(split)`, `catchUpFn` catches up, `filter(!split)` lands and
    * `catchUpFn` catches up again. Returns the store dir for whichever
    * view the face reads. A row whose split is null lands in neither
    * arrival: the splits key on non-null ids, except the markov time
    * cut, whose catch-up drops null-ts events anyway.
    */
  private def gateStore(spark: SparkSession, sfDir: String, table: String,
                        split: Column, tag: String)
                       (catchUpFn: (SparkSession, String, String) => Unit)
      : String = {
    val watch = tempDirForExit(s"graft_gate_${tag}_watch")
    val store = tempDirForExit(s"graft_gate_${tag}_store")
    val t = Graft.table(spark, sfDir, table)
    land(t.filter(split), watch, "arrival1.parquet")
    catchUpFn(spark, watch, store)
    land(t.filter(!split), watch, "arrival2.parquet")
    catchUpFn(spark, watch, store)
    store
  }

  /** Even ids arrive first, odd ids second (`pmod` is never negative). */
  private def parity(idCol: String): Column = pmod(col(idCol), lit(2)) === 0

  /** Land `df` as one flat parquet file `$dir/$name` - the shape a
    * corpus append drops into a watched directory. Gate harness only
    * (it simulates file arrival); the coalesce(1) is the simulated
    * producer's write, not part of any operator plan.
    */
  private def land(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_land").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, name))
    deleteRecursively(new java.io.File(tmp)) // staging copy served its purpose
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Gate temp dirs must outlive this method (the returned DataFrame
    * reads the store lazily), so they can't be deleted inline; a
    * shutdown hook reclaims them when the JVM exits. Without this a
    * reps=3 bench run leaves ~8 corpus copies per table in /tmp.
    */
  private lazy val exitCleanup: java.util.concurrent.ConcurrentLinkedQueue[String] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var d = q.poll()
      while (d != null) {
        deleteRecursively(new java.io.File(d)); d = q.poll()
      }
    }))
    q
  }

  private[graft] def tempDirForExit(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    exitCleanup.add(d)
    d
  }

  /** Driver-gate face of the incremental document store: a FRESH store
    * catches up with `sfDir`'s documents arriving as two appends, then
    * answers with its LSH candidate pairs - the same relation
    * `dd_minhash_lsh` computes in one shot, so both share its oracle.
    * This puts catchUp's increment tracking under the hard row/schema/
    * hash gate, not just specs.
    */
  def gatedCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val store = freshDocStore(spark, sfDir, "dd")
    storedCandidates(spark, store).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Cluster-histogram view over the same incrementally-banded
    * document store: candidates from the stored bands, exact-verify
    * against the stored shingles (the batch `ngramJaccardFrom`), then
    * the path-halving components and the size histogram at query time
    * (one arriving document can merge two existing clusters, so no
    * per-batch component — let alone histogram — is ever storable);
    * shares `dd_cluster_stats`' oracle. The corpus count is read from
    * the source at query time (the gatedEditVerify posture: the store
    * holds the DERIVED signature state, not a copy of the corpus).
    */
  def gatedClusterStats(spark: SparkSession, sfDir: String): DataFrame = {
    val store = freshDocStore(spark, sfDir, "cs")
    val edges = Dedup.ngramJaccardFrom(
        storedCandidates(spark, store), storedShingles(spark, store))
      .select(col("doc_a"), col("doc_b"))
    val (clusters, _) = Dedup.resolveComponents(spark, edges)
    Dedup.clusterStatsFrom(clusters,
      Graft.table(spark, sfDir, "documents")
        .agg(count(lit(1)).as("n_corpus")))
  }

  /** Keep-best curation over BOTH evolving stores (`pipe_dedup_keep_best`'s
    * store face — the family convention that every shipped curation
    * face has a store or stream story): clusters re-derive from the
    * incrementally-banded document store exactly as `gatedClusterStats`
    * (stored bands → stored-shingle verify → query-time components;
    * one arriving doc can merge clusters, so no per-batch component is
    * storable), and the keeper's quality key re-scores every stored
    * document's term multiset under the LM store's FINAL summed term
    * partials (the `storedQualityGate`/`admitLm` evolving-answer
    * discipline — a batch-1 doc's NLL reflects batch-2's vocabulary).
    * Both stores catch up on the same two doc-parity arrivals; since
    * verdicts re-evaluate under the final state, the answer is exactly
    * the one-shot batch relation and the face shares
    * `pipe_dedup_keep_best`'s oracle.
    */
  def gatedKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val store = freshDocStore(spark, sfDir, "kb")
    val edges = Dedup.ngramJaccardFrom(
        storedCandidates(spark, store), storedShingles(spark, store))
      .select(col("doc_a"), col("doc_b"))
    val (clusters, _) = Dedup.resolveComponents(spark, edges)
    val lmStore = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "kbl")(catchUpLm)
    val docTerms = storedOrEmpty(spark, s"$lmStore/lm_doc_terms",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS doc_id", "'' AS term", "id AS k")))
    Dedup.dedupKeepBestFrom(clusters,
      lmNllAgainstStore(spark, lmStore, docTerms),
      Graft.table(spark, sfDir, "documents"))
  }

  /** Edit-verify view over the same incrementally-banded document
    * store: candidates from the stored bands, the capped-prefix
    * Levenshtein at query time (order-independent verify); shares
    * `dd_edit_verify`'s oracle.
    */
  def gatedEditVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val store = freshDocStore(spark, sfDir, "ed")
    Dedup.editVerifyFrom(storedCandidates(spark, store),
      Graft.tableParallel(spark, sfDir, "documents"))
  }

  /** Exact-similarity-join faces of the document store: the stored
    * shingle relation (tokenized ONCE, incrementally) feeds the
    * prefix-filter Jaccard join and the containment join, whose
    * rare-first prefixes derive from the global document frequency AT
    * QUERY TIME - batch-1 documents' prefixes reflect the final df
    * exactly as if the corpus had arrived at once (the evolving-LM
    * stores' re-score-history-under-today's-model semantics, applied
    * to candidate pruning). Both share their batch twin's oracle.
    */
  def gatedJaccardPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    val store = freshDocStore(spark, sfDir, "jp")
    Dedup.jaccardPrefixFrom(storedShingles(spark, store))
  }

  def gatedContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val store = freshDocStore(spark, sfDir, "ct")
    Dedup.containmentFrom(storedShingles(spark, store))
  }

  /** Fresh incremental document store caught up with sfDir's documents
    * arriving as two doc-parity appends - the shared setup of the
    * gated document-store faces. The parity split makes the global df
    * evolve across appends, which is what the query-time prefix
    * derivation must absorb.
    */
  private def freshDocStore(spark: SparkSession, sfDir: String,
                            tag: String): String =
    gateStore(spark, sfDir, "documents", parity("doc_id"), tag)(catchUp)

  /** Span twin: fresh incremental span store over two appends,
    * answering with the same coverage relation `dd_dup_spans` computes
    * in one shot (shared oracle). The split is doc-id parity, so
    * cross-batch repeated grams - a gram arriving once per append,
    * repeated only store-wide - are exactly what the summed partial
    * counts must catch.
    */
  def gatedDupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "span")(catchUpSpans)
    storedDupSpans(spark, store)
  }

  /** Quality-gate twin: fresh incremental LM store over two appends,
    * answering with the same signals+verdict relation
    * `pipe_quality_gate` computes in one shot (shared oracle). The
    * doc-parity split makes the LM evolve across appends - batch-1
    * documents must end up scored under the FULL final vocabulary,
    * which is exactly what deferring scoring to query time buys.
    */
  def gatedQualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "lm")(catchUpLm)
    storedQualityGate(spark, store)
  }

  /** Per-source cap from the incrementally-maintained LM store: every
    * stored document re-scored under the store's CURRENT summed term
    * partials (the 48c evolving-answer structure - an early doc's rank
    * inside its source changes when later batches shift the LM), then
    * the same TopKPerKey bounded-heap cap as the batch face. Shares
    * `pipe_source_cap`'s oracle once caught up.
    */
  def storedSourceCap(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val docTerms = storedOrEmpty(spark, s"$storeDir/lm_doc_terms",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS doc_id", "'' AS term", "id AS k")))
    val sources = storedOrEmpty(spark, s"$storeDir/lm_sources",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS doc_id", "'' AS source")))
    val nll = lmNllAgainstStore(spark, storeDir, docTerms)
    graft.plans.TopK.perKey(sources.join(nll, Seq("doc_id")),
        Seq("source"), Seq(("nll", true), ("doc_id", true)),
        CorpusOps.sourceCapK)
      .select(col("source"), col("doc_id"), col("nll"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** Driver-gate face of `storedSourceCap`: fresh store, two doc-parity
    * appends, then the cap - matching the one-shot `pipe_source_cap`.
    */
  def gatedSourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "scap")(catchUpLm)
    storedSourceCap(spark, store)
  }

  /** Bigram-LM incremental store - the context-aware sibling of
    * `catchUpLm`, same evolving-answer structure: per-batch appends of
    * (a) per-doc bigram multisets (appended once, never re-read for
    * maintenance), (b) additive bigram-count partials, (c) additive
    * unigram-count partials (the c(w1) denominator + V). Scoring is
    * deferred to query time, so an early batch's NLL CHANGES when a
    * later batch grows the pair vocabulary - the same re-scoring
    * contract `lm_store_quality` pins. Tokenization is literally
    * `TextAnalysis.bigramDocToks`/`bigramPairs`, so store and batch
    * faces cannot drift.
    */
  def catchUpLm2(spark: SparkSession, watchDir: String, storeDir: String,
                 glob: String = "*.parquet"): Unit =
    maintainLm2(spark, watchDir, storeDir, glob, admissions = false)

  /** Streaming ADMISSION against the evolving bigram LM: after folding
    * a micro-batch's pair/term partials into the store, the batch's
    * documents are scored against the store's CURRENT summed partials
    * and the arrival-time scores land in `lm2_admissions/batch=<id>` -
    * immutable once written, while every document's CURRENT score
    * (`storedBigramNll`) keeps evolving with the pair vocabulary.
    */
  def admitLm2(spark: SparkSession, watchDir: String, storeDir: String,
               glob: String = "*.parquet"): Unit =
    maintainLm2(spark, watchDir, storeDir, glob, admissions = true)

  private def maintainLm2(spark: SparkSession, watchDir: String,
                          storeDir: String, glob: String,
                          admissions: Boolean): Unit =
    maintain(spark, watchDir, storeDir, glob) { (batch, put) =>
      val toks = TextAnalysis.bigramDocToks(batch).persist()
      val pairs = TextAnalysis.bigramPairs(toks)
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("k"))
        .persist()
      try {
        put(pairs, "lm2_doc_bigrams")
        put(pairs.groupBy(col("w1"), col("w2"))
          .agg(org.apache.spark.sql.functions.sum(col("k")).as("n")),
          "lm2_bigram_counts")
        put(toks.select(org.apache.spark.sql.functions.explode(col("ts"))
            .as("term"))
          .groupBy(col("term"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n")),
          "lm2_term_counts")
        if (admissions) {
          // score THIS batch against the store's current partials
          // (the freshly-written ones included) - the query-time
          // scoring core restricted to the batch's docs
          val dbg = spark.read
            .parquet(put.path("lm2_doc_bigrams"))
          put(bigramNllAgainstStore(spark, storeDir, dbg), "lm2_admissions")
        }
      } finally { pairs.unpersist(); toks.unpersist() }
    }

  /** Per-doc bigram NLL from the store's current partials: bigram and
    * unigram counts summed across batches, per-bigram scores computed
    * VOCAB-SIDE (the batch face's plan shape), stored multisets scored
    * under them - k identical pairs contribute k * nll_b, the same
    * integer sum as the one-shot per-position pass. Matches
    * `txt_bigram_nll`'s oracle once caught up.
    */
  /** The bigram scoring core: given per-doc pair multisets, score them
    * under the store's current summed partials. Shared by the
    * query-time re-scorer and the admission path so they cannot drift.
    */
  private[graft] def bigramNllAgainstStore(spark: SparkSession,
                                           storeDir: String,
                                           docBg: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, expr, sum}
    Graft.ensureConf(spark)
    val freqU = storedOrEmpty(spark, s"$storeDir/lm2_term_counts",
      emptyLike(spark, spark.range(0)
        .selectExpr("'' AS term", "id AS n")))
      .groupBy(col("term")).agg(sum(col("n")).as("cu"))
    val vRow = freqU.agg(count(lit(1)).as("v_size")).collect()(0)
    val vSize = vRow.getLong(0)
    val freqB = storedOrEmpty(spark, s"$storeDir/lm2_bigram_counts",
      emptyLike(spark, spark.range(0)
        .selectExpr("'' AS w1", "'' AS w2", "id AS n")))
      .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("cb"))
    val scoredVocab = freqB
      .join(freqU.withColumnRenamed("term", "w1"), "w1")
      .select(col("w1"), col("w2"), expr(
        s"""CAST(floor(-ln(CAST(cb + 1 AS DOUBLE)
           |  / CAST(cu + ${vSize}L AS DOUBLE)) * 1000000.0 + 0.5)
           |  AS BIGINT)""".stripMargin).as("nll_b"))
    docBg.join(scoredVocab, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("nll_b")).as("sum_b"),
        sum(col("k")).as("n_big"))
      .select(col("doc_id"), col("n_big"),
        ParityMath.q6((col("sum_b").cast("double") / lit(1000000.0))
          / col("n_big")).as("nll2"))
  }

  def storedBigramNll(spark: SparkSession, storeDir: String): DataFrame =
    bigramNllAgainstStore(spark, storeDir,
      storedOrEmpty(spark, s"$storeDir/lm2_doc_bigrams",
        emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
          "'' AS w1", "'' AS w2", "id AS k"))))
      .orderBy(col("doc_id"))

  def gatedBigramNll(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "lm2")(catchUpLm2(_, _, _))
    storedBigramNll(spark, store)
  }

  /** Kneser–Ney view over the SAME lm2 store's additive bigram
    * partials and per-doc multisets: every KN input (row sums,
    * successor/predecessor type counts, the bigram-type total) is a
    * query-time fold of the summed partials — one arriving doc can
    * create a pair type and shift EVERY continuation probability, so
    * no score is storable state (the lm2 re-scoring contract under
    * proper smoothing); scoring runs through the batch
    * `knScoredVocab`, k identical pairs contributing k·nll; shares
    * `txt_kn_nll`'s oracle.
    */
  def storedKnNll(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, sum}
    Graft.ensureConf(spark)
    val freqB = storedOrEmpty(spark, s"$storeDir/lm2_bigram_counts",
      emptyLike(spark, spark.range(0)
        .selectExpr("'' AS w1", "'' AS w2", "id AS n")))
      .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("cb"))
    val docBg = storedOrEmpty(spark, s"$storeDir/lm2_doc_bigrams",
      emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
        "'' AS w1", "'' AS w2", "id AS k")))
    docBg.join(TextAnalysis.knScoredVocab(freqB), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("nll_kn_b")).as("sum_b"),
        sum(col("k")).as("n_big"))
      .select(col("doc_id"), col("n_big"),
        ParityMath.q6((col("sum_b").cast("double") / lit(1000000.0))
          / col("n_big")).as("nll_kn"))
      .orderBy(col("doc_id"))
  }

  def gatedKnNll(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "kn")(catchUpLm2(_, _, _))
    storedKnNll(spark, store)
  }

  /** PMI-collocation view over the SAME lm2 store's additive bigram
    * partials: the marginals and N are corpus-global (one arriving
    * doc shifts every pair's PMI and can push pairs across the
    * support floor), so the ranking runs at query time through the
    * batch `pmiFromCounts` — one store, both the LM and the
    * collocation views; shares `txt_pmi`'s oracle.
    */
  def storedPmi(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.functions.sum
    Graft.ensureConf(spark)
    TextAnalysis.pmiFromCounts(
      storedOrEmpty(spark, s"$storeDir/lm2_bigram_counts",
        emptyLike(spark, spark.range(0)
          .selectExpr("'' AS w1", "'' AS w2", "id AS n")))
        .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("cb")))
  }

  def gatedPmi(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "pmi")(catchUpLm2(_, _, _))
    storedPmi(spark, store)
  }

  /** Incremental TF-IDF keyword store: each arriving documents batch
    * lands its per-(doc, term) counts — a document tokenizes exactly
    * once, ever. The df/idf side and the per-doc ranking are a
    * query-time VIEW over the merged tf relation (the batch
    * `tfidfFrom`): df is corpus-global, so EVERY new batch shifts
    * every stored document's idf — scores are never storable state,
    * only the tf facts are (the evolving-answer contract on the
    * vocabulary axis, next to the decay store's time axis and the RFM
    * store's ranking axis).
    */
  def catchUpTfidf(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .select(col("doc_id"), explode(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("c")), "tf")
    }

  def storedTfidf(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val tf = storedOrEmpty(spark, s"$storeDir/tf",
      emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
        "'' AS term", "id AS c")))
    // re-sum defensively: a doc split across landings would otherwise
    // double-count its term rows in df (same guard as the other stores)
    graft.pipeline.TextAnalysis.tfidfFrom(
      tf.groupBy(col("doc_id"), col("term")).agg(sum(col("c")).as("c")))
  }

  /** Driver-gate face: fresh store, two doc-parity appends (the second
    * batch's vocabulary shifts the first batch's idf — the scores must
    * re-derive under the union), then the query-time ranking; shares
    * `txt_tfidf`'s oracle.
    */
  def gatedTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "tfidf")(catchUpTfidf)
    storedTfidf(spark, store)
  }

  /** Incremental SEQUENCE-PACKING store: each arriving batch lands its
    * per-doc (doc_id, n_ws) size fact ONCE — 16 bytes/doc, never the
    * text; the tokenize pass runs on the batch alone (docs immutable →
    * size facts are disjoint appends). The manifest is a query-time
    * view through the batch face's shared `packSegmentsFrom`: a new
    * doc_id can land anywhere in the global doc order, shifting every
    * later document's token offset — so segment rows are never
    * storable per batch, but the derivation input is the SIZE
    * relation, not the corpus.
    */
  def catchUpPack(spark: SparkSession, watchDir: String,
                  storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch
        .select(col("doc_id"), expr(
          "CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)")
          .as("n_ws"))
        .filter(col("n_ws") >= 1L), "pack_sized")
    }

  /** The packing manifest from the stored size facts — literally the
    * batch `packSegmentsFrom`, so the store's answer matches
    * `pipe_pack_tokens`' oracle once caught up.
    */
  def storedPackTokens(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val sized = storedOrEmpty(spark, s"$storeDir/pack_sized",
      emptyLike(spark, spark.range(0)
        .selectExpr("id AS doc_id", "id AS n_ws")))
    graft.pipeline.CorpusOps.packSegmentsFrom(sized)
      .orderBy(col("pack_id"), col("off_in_pack"))
  }

  /** Driver-gate face: fresh store, two doc-parity appends (the second
    * batch's doc_ids interleave the first's, shifting nearly every
    * token offset — the manifest must re-derive under the union), then
    * the query-time packing; shares `pipe_pack_tokens`' oracle.
    */
  def gatedPackTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "pack")(catchUpPack)
    storedPackTokens(spark, store)
  }

  /** Incremental SIMHASH store, completing the dedup-store family
    * (48a minhash bands, 48b spans, jaccard-prefix, containment — and
    * now the Hamming member): each arriving batch lands its per-doc
    * 48-bit signature ONCE (docs immutable → signature facts are
    * disjoint appends; the tokenize+hash pass is the shingle
    * pipeline's); the chunk-blocked Hamming pair join is a query-time
    * view through the batch face's shared `simhashPairsFrom` — a new
    * doc can pair with ANY earlier doc, so pairs are never storable
    * per batch.
    */
  def catchUpSimhash(spark: SparkSession, watchDir: String,
                     storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(Dedup.shinglesFrom(batch)
        .select(col("doc_id"), expr("graft_simhash48(hst)").as("sim")), "sig")
    }

  def storedSimhashPairs(spark: SparkSession,
                         storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    Dedup.simhashPairsFrom(storedOrEmpty(spark, s"$storeDir/sig",
      emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
        "id AS sim"))))
  }

  /** Driver-gate face: doc-parity appends, then the query-time pair
    * join; shares `dd_simhash`'s oracle.
    */
  def gatedSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "simhash")(catchUpSimhash)
    storedSimhashPairs(spark, store)
  }

  /** Incremental AHASH store — the IMAGE member of the dedup-store
    * family, structurally `catchUpSimhash` on the perceptual
    * signature: each arriving batch encodes + hashes its docs' scene
    * BMPs ONCE (payloads immutable → disjoint 48-bit signature
    * appends), and the chunk-blocked Hamming pair join stays a
    * query-time view through the SAME shared `simhashPairsFrom` the
    * text face uses — one pairing core across modalities, one store
    * discipline across signatures.
    */
  def catchUpAhash(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      val s2 = batch.sparkSession
      import s2.implicits._
      put(batch.select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { did =>
            val w = 16 + (did % 17).toInt
            val h = 8 + (did % 11).toInt
            (did, Multimodal.bmpAhash48(did,
              Multimodal.bmpEncodeScene(did, w, h)))
          }
        }
        .toDF("doc_id", "sim"), "sig")
    }

  /** Driver-gate face: doc-parity appends, query-time pair join;
    * shares `mm_ahash_pairs`' oracle (and `storedSimhashPairs`' view —
    * the stored relation is the same (doc_id, sim) shape).
    */
  def gatedAhash(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "ahash")(catchUpAhash)
    storedSimhashPairs(spark, store)
  }

  /** Incremental DCT perceptual-hash store: each arriving image batch
    * lands its (doc_id, phash) signature fact ONCE (images immutable →
    * disjoint appends, the catchUpAhash discipline with the DCT hash);
    * the per-doc report is a plain projection of the stored facts.
    */
  def catchUpPhash(spark: SparkSession, watchDir: String,
                   storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      val s2 = batch.sparkSession
      import s2.implicits._
      put(batch.select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { did =>
            val w = 16 + (did % 17).toInt
            val h = 8 + (did % 11).toInt
            (did, Multimodal.bmpPhash(did,
              Multimodal.bmpEncodeScene(did, w, h)))
          }
        }
        .toDF("doc_id", "phash"), "sig")
    }

  /** Driver-gate face: doc-parity appends, per-doc projection; shares
    * `mm_phash`'s oracle.
    */
  def gatedPhash(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "phash")(catchUpPhash)
    storedOrEmpty(spark, s"$store/sig",
      emptyLike(spark, spark.range(0).selectExpr(
        "id AS doc_id", "id AS phash")))
      .select(col("doc_id"), col("phash"),
        expr("CAST(bit_count(phash) AS BIGINT)").as("n_set"))
      .orderBy(col("doc_id"))
  }

  /** Incremental SEMDEDUP store, the semantic member of the dedup-store
    * family: each arriving embeddings batch lands its (vec_id,
    * embedding) facts ONCE (vectors immutable → disjoint appends); the
    * dominance verdict is a query-time view through the batch face's
    * shared `ddSemanticFrom` — a new vector can pair with ANY earlier
    * one in its cell, so verdicts are never storable per batch. The
    * centroids are the shipped-model parameter (the streaming face's
    * posture): trained once on the deterministic sample, consulted by
    * every serve.
    */
  def catchUpSemantic(spark: SparkSession, watchDir: String,
                      storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      put(batch.select(col("vec_id"), col("embedding")), "vec")
    }

  def storedSemantic(spark: SparkSession, storeDir: String,
                     sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val vecs = storedOrEmpty(spark, s"$storeDir/vec",
      emptyLike(spark, spark.range(0).selectExpr("id AS vec_id",
        "CAST(array() AS ARRAY<FLOAT>) AS embedding")))
      .select(col("vec_id"), col("embedding"))
    graft.pipeline.Similarity.ddSemanticFrom(vecs,
      graft.pipeline.Similarity.trainedCentroidsFor(spark, sfDir))
  }

  /** Driver-gate face: vec-parity appends (cross-batch dominance pairs
    * are guaranteed whenever a dup's canonical has opposite parity),
    * then the query-time verdict; shares `dd_semantic`'s oracle.
    */
  def gatedSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "embeddings", parity("vec_id"),
      "sem")(catchUpSemantic)
    storedSemantic(spark, store, sfDir)
  }

  /** Incremental BM25 retrieval store: each arriving documents batch
    * lands its per-doc token length and its per-(doc, query-term)
    * counts — a document tokenizes exactly once, ever. EVERYTHING
    * else is a query-time VIEW through the batch face's shared
    * scoring functions (`bm25FromParts`/`bm25Report`): N, avgdl, df
    * and therefore every idf are corpus-global — one arriving doc
    * shifts every stored document's score — so scores are never
    * storable state, only the (dl, tf) facts are. BM25's bag-of-words
    * nature makes the merge exact under ANY batch split of a doc:
    * lengths and counts are plain sums (unlike the bigram LM store,
    * no cross-boundary n-gram is ever lost).
    */
  def catchUpBm25(spark: SparkSession, watchDir: String,
                  storeDir: String): Unit = {
    val ql = graft.pipeline.TextAnalysis.bm25QueryTerms
      .map(t => s"'$t'").mkString(", ")
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      // tokenize once per batch; both landed relations read the
      // materialized token arrays, not two re-tokenizations
      val toks = batch.select(col("doc_id"), expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
        .localCheckpoint()
      put(toks.select(col("doc_id"),
          size(col("ts")).cast("long").as("dl")), "len")
      put(toks.select(col("doc_id"),
          explode(expr(s"filter(ts, t -> t IN ($ql))")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("c")), "tf")
    }
  }

  def storedBm25(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val len = storedOrEmpty(spark, s"$storeDir/len",
      emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
        "id AS dl")))
    val tf0 = storedOrEmpty(spark, s"$storeDir/tf",
      emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
        "'' AS term", "id AS c")))
    // re-sum: a doc split across landings contributes dl and c
    // partials that add exactly (bag-of-words)
    val docLens = len.groupBy(col("doc_id")).agg(sum(col("dl")).as("dl"))
    val tf = tf0.groupBy(col("doc_id"), col("term"))
      .agg(sum(col("c")).as("c"))
      .join(docLens, "doc_id")
      .select(col("doc_id"), col("dl"), col("term"), col("c"))
    graft.pipeline.TextAnalysis.bm25Report(
      graft.pipeline.TextAnalysis.bm25FromParts(docLens, tf))
  }

  /** Driver-gate face: fresh store, two doc-parity appends (the
    * second batch shifts N/avgdl/df, so every first-batch score must
    * re-derive under the union), then the query-time ranking; shares
    * `txt_bm25`'s oracle.
    */
  def gatedBm25(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents", parity("doc_id"),
      "bm25")(catchUpBm25)
    storedBm25(spark, store)
  }

  /** Incremental STUPID-BACKOFF LM store, the trigram sibling of the
    * 48g bigram store with the same evolving-answer structure: each
    * arriving documents batch lands (a) its TRAIN-side (even doc_ids)
    * unigram/bigram/trigram count PARTIALS — additive, summed at
    * query time, so an n-gram recurring only ACROSS batches still
    * counts — and (b) its HELD-OUT (odd doc_ids) position stream,
    * tokenized exactly once. Scoring is entirely a query-time view
    * through the batch face's `backoffScore`: a later batch's train
    * docs shift every stored held-out doc's NLL (new trigrams turn
    * backoffs into hits), so scores are never storable state. Docs
    * land whole (row-atomic ingestion) — unlike the bag-of-words BM25
    * store, an n-gram relation cannot merge a doc split mid-text.
    */
  def catchUpBackoff(spark: SparkSession, watchDir: String,
                     storeDir: String): Unit =
    maintain(spark, watchDir, storeDir) { (batch, put) =>
      val toks = graft.pipeline.TextAnalysis.backoffDocToks(batch)
        .localCheckpoint()
      val train = toks.filter(pmod(col("doc_id"), lit(2)) === 0)
      put(graft.pipeline.TextAnalysis.backoffUni(train), "uni")
      put(graft.pipeline.TextAnalysis.backoffBg(train), "bg")
      put(graft.pipeline.TextAnalysis.backoffTg(train), "tg")
      put(graft.pipeline.TextAnalysis.backoffPos(
          toks.filter(pmod(col("doc_id"), lit(2)) === 1)), "pos")
    }

  def storedBackoff(spark: SparkSession, storeDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val uni = storedOrEmpty(spark, s"$storeDir/uni",
      emptyLike(spark, spark.range(0).selectExpr("'' AS w3", "id AS cu")))
      .groupBy(col("w3")).agg(sum(col("cu")).as("cu"))
    val bg = storedOrEmpty(spark, s"$storeDir/bg",
      emptyLike(spark, spark.range(0).selectExpr("'' AS w2", "'' AS w3",
        "id AS c2")))
      .groupBy(col("w2"), col("w3")).agg(sum(col("c2")).as("c2"))
    val tg = storedOrEmpty(spark, s"$storeDir/tg",
      emptyLike(spark, spark.range(0).selectExpr("'' AS w1", "'' AS w2",
        "'' AS w3", "id AS c3")))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(sum(col("c3")).as("c3"))
    val pos = storedOrEmpty(spark, s"$storeDir/pos",
      emptyLike(spark, spark.range(0).selectExpr("id AS doc_id",
        "id AS i", "'' AS w1", "'' AS w2", "'' AS w3")))
      .select(col("doc_id"), col("i"), col("w1"), col("w2"), col("w3"))
    graft.pipeline.TextAnalysis.backoffScore(pos, uni, bg, tg)
  }

  /** Driver-gate face: fresh store, two appends split on (doc_id DIV
    * 2) parity so EACH batch carries both train partials and held-out
    * positions — the second batch's train docs re-score the first
    * batch's held-out docs under the summed partials; shares
    * `txt_backoff_nll`'s oracle.
    */
  def gatedBackoff(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "documents",
      pmod(expr("doc_id DIV 2"), lit(2)) === 0, "sbo")(catchUpBackoff)
    storedBackoff(spark, store)
  }

  /** Z-order layout incremental store: each arriving batch is
    * z-order-WRITTEN into its own `zorder/batch=<id>` subtree, so the
    * layout is maintained without ever rewriting
    * ingested data - the per-batch z-order is the incremental form of
    * a global OPTIMIZE, trading a bounded per-batch shard-file count
    * for zero-compaction appends. `shard` stays a partition column
    * under EVERY batch directory, so a box read's candidate-shard cut
    * prunes at FileIndex level across all batches at once.
    */
  def catchUpLayout(spark: SparkSession, watchDir: String,
                    storeDir: String, glob: String = "*.parquet"): Unit =
    maintain(spark, watchDir, storeDir, glob) { (batch, put) =>
      Layout.writeZOrdered(batch, put.path("zorder"))
    }

  /** Pruned box read across every ingested batch: one driver-side
    * candidate enumeration, one FileIndex-level `shard IN cands` cut
    * over the whole store, the exact (tb, vb) residual pushed as a
    * normal predicate.
    */
  def prunedReadStore(spark: SparkSession, storeDir: String,
                      box: Layout.ZBox): DataFrame = {
    val cands = Layout.candidateShards(box)
    spark.read.parquet(s"$storeDir/zorder")
      .filter(col("shard").cast("long").isin(cands.toSeq: _*))
      .filter(col("tb").between(box.tbLo, box.tbHi) &&
        col("vb").between(box.vbLo, box.vbHi))
  }

  def gatedLayout(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "layout")(catchUpLayout(_, _, _))
    spark.read.parquet(s"$store/zorder")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("tb"), col("vb"), col("zkey"),
        expr("CAST(shard AS BIGINT)").as("shard"))
      .orderBy(col("event_id"))
  }

  /** Sketch gated faces: a fresh store catches up with the table
    * arriving as two appends (split on the id's parity, so every
    * group's sketch genuinely merges partials from both batches), then
    * answers with the SAME estimate relation the one-shot batch query
    * computes - each face shares its batch oracle. The exact/probe
    * adjunct comes from the static table, as in the streaming faces.
    */
  def gatedCmsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Graft.table(spark, sfDir, "events")
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "cms")(catchUpEventSketches)
    val counters = spark.read.parquet(s"$store/cms_part").drop("batch")
      .groupBy(col("r"), col("bkt"))
      .agg(org.apache.spark.sql.functions.sum(col("c")).as("c"))
    Sketches.cmsEstimate(counters, ev.select(col("user_id")))
  }

  def gatedKmvJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Graft.table(spark, sfDir, "events")
    val store = gateStore(spark, sfDir, "events", parity("event_id"),
      "kmv")(catchUpEventSketches)
    // KMV merge: the k smallest of the united buffers - batches x k
    // rows per group in, k out
    val merged = Sketches.kmvSets(
      spark.read.parquet(s"$store/kmv_part").drop("batch")
        .select(col("event_type"),
          org.apache.spark.sql.functions.explode(col("ks")).as("h"))
        .distinct())
    Sketches.kmvExact(Sketches.kmvHashes(ev))
      .join(Sketches.kmvEstimates(merged), Seq("type_a", "type_b"))
      .orderBy(col("type_a"), col("type_b"))
  }

  def gatedHllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Graft.table(spark, sfDir, "lineitem")
    val store = gateStore(spark, sfDir, "lineitem", parity("l_orderkey"),
      "hll")(catchUpLineitemSketches)
    val regs = spark.read.parquet(s"$store/hll_part").drop("batch")
      .groupBy(col("l_returnflag"), col("reg"))
      .agg(org.apache.spark.sql.functions.max(col("mj")).as("mj"))
    Sketches.estimate(regs)
      .join(Sketches.exactDistinct(
        li.select(col("l_returnflag"), col("l_orderkey"))),
        Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"), col("hll_est"))
      .orderBy(col("l_returnflag"))
  }

  def gatedQtileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "lineitem", parity("l_orderkey"),
      "qt")(catchUpLineitemSketches)
    Sketches.qtileEstimate(
      spark.read.parquet(s"$store/qtile_part").drop("batch")
        .groupBy(col("l_returnflag"), col("bin"))
        .agg(org.apache.spark.sql.functions.sum(col("c")).as("c")))
  }

  /** Embedding twin: fresh incremental cell store over two appends,
    * answering with the same-cell candidate pairs `ss_stream_ann_cand`
    * emits - all three faces (batch blocking, streaming state,
    * incremental store) share one oracle.
    */
  def gatedAnnCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val store = gateStore(spark, sfDir, "embeddings", parity("vec_id"),
      "ann")(catchUpEmbeddings)
    storedAnnCandidates(spark, store).orderBy(col("vec_a"), col("vec_b"))
  }
}
