package graft.pipeline

import graft.core.{Graft, Memo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-level training-data operators: global vocabulary and
  * deterministic sharded shuffling - the "what order and what words"
  * half of a training-data pipeline, shaped for 100 TB.
  */
object CorpusOps {

  val vocabK = 100
  val shuffleSalt = "shuf42:"

  /** Shard count for the parity run: the oracle SQL is generated with
    * the same fixed value so both engines bucket identically.
    */
  val oracleShards = 8

  /** Default shard count: tracks the cluster's parallelism (overridable
    * via `graft.shuffle.shards`). A constant would mean corpus/8 rows
    * per reducer at 100 TB - shards must scale with the cluster, the
    * way a training pipeline sizes its output shard count. The
    * trade-off is explicit: shuffle/pack output is deterministic FOR A
    * GIVEN shard count (rerunning the same config reproduces the same
    * order), so a dataset that must be byte-reproducible across
    * differently-sized environments should pin `graft.shuffle.shards`
    * in its config rather than inherit the environment's parallelism.
    */
  def shardsFor(spark: SparkSession): Int =
    spark.conf.getOption("graft.shuffle.shards").map { v =>
      val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"graft.shuffle.shards must be a positive int, got '$v'"))
      require(n >= 1, s"graft.shuffle.shards must be >= 1, got $n")
      n
    }.getOrElse(spark.sparkContext.defaultParallelism)

  // ---- txt_vocab -----------------------------------------------------

  /** Global top-k vocabulary by term frequency. Explode → count is the
    * canonical map-side-combinable aggregation (one shuffle on term);
    * the global top-k plans as TakeOrderedAndProject - per-partition
    * heaps + a k-row merge on the driver, never a full global sort.
    */
  def vocab(spark: SparkSession, sfDir: String): DataFrame =
    Graft.tableParallel(spark, sfDir, "documents")
      .select(explode(
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term"))
      .limit(vocabK)

  val vocabSql: String =
    s"""SELECT term, CAST(count(*) AS BIGINT) AS freq FROM (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents
       |)
       |GROUP BY term ORDER BY freq DESC, term LIMIT $vocabK""".stripMargin

  // ---- pipe_shuffle --------------------------------------------------

  /** Deterministic sharded corpus shuffle ≙ randomizing training-data
    * order: a salted 48-bit content hash gives every doc a
    * pseudo-random sort key; shard = key mod #shards, position = rank
    * within the shard. No global sort - each shard ranks
    * independently (one keyed shuffle), which is exactly how a
    * training pipeline writes its shuffled shards. Rerunning yields
    * the same order (seeded by the salt), so downstream runs are
    * reproducible.
    */
  def shuffle(spark: SparkSession, sfDir: String): DataFrame =
    shuffle(spark, sfDir, shardsFor(spark))

  def shuffle(spark: SparkSession, sfDir: String, shards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("skey"), col("doc_id"))
    Graft.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(s"graft_md5_48(concat('$shuffleSalt', CAST(doc_id AS STRING)))")
          .as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  // ---- pipe_curriculum -------------------------------------------------

  /** Number of difficulty stages in the curriculum ordering. */
  val curriculumStages = 4L

  val curriculumSalt = "curriculum:"

  /** Staged curriculum ordering for training: documents ranked
    * easy→hard by the corpus LM's unigram NLL (the
    * `pipe_quality_prune` difficulty metric - low NLL = predictable =
    * easy), cut into `curriculumStages` equal-mass stages by exact
    * integer rank math (stage = (rnk-1)·S DIV n), then deterministically
    * hash-shuffled WITHIN each stage (the `pipe_shuffle` salted-key
    * discipline) so no stage replays corpus order. The emitted `ord`
    * is the training read order: easy stages first, mixed within.
    *
    * Scale shape: both global ranks ride `GlobalRank.withRank` (range
    * shuffle + partition-offset arithmetic), never a one-task global
    * window; the NLL relation is the quality-prune core (broadcast LM
    * join + one doc-keyed combine).
    */
  def curriculum(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    curriculumFromNll(QualityGate.nllPerDoc(spark, sfDir))
  }

  /** The staged ordering over any (doc_id, nll) difficulty relation -
    * shared by the batch face and the streaming face (whose NLL comes
    * from the evolving LM store, bit-equal at catch-up).
    */
  private[graft] def curriculumFromNll(nll: DataFrame): DataFrame = {
    val (ranked, n) = graft.core.GlobalRank.withRank(
      nll, Seq(col("nll").asc, col("doc_id").asc), "rnk")
    val staged = ranked
      .withColumn("stage",
        expr(s"((rnk - 1L) * $curriculumStages) DIV ${n}L"))
      .withColumn("skey", expr(
        s"graft_md5_48(concat('$curriculumSalt', CAST(doc_id AS STRING)))"))
    val (ordered, _) = graft.core.GlobalRank.withRank(
      staged, Seq(col("stage").asc, col("skey").asc, col("doc_id").asc),
      "ord")
    ordered.select(col("ord"), col("doc_id"), col("stage"), col("nll"))
      .orderBy(col("ord"))
  }

  val curriculumSql: String = {
    val h48 = HashParity.hex48Duck(
      s"md5(concat('$curriculumSalt', CAST(doc_id AS VARCHAR)))")
    s"""WITH ${QualityGate.nllCtesDuck}, ranked AS (
       |  SELECT doc_id, nll,
       |    row_number() OVER (ORDER BY nll, doc_id) AS rnk,
       |    count(*) OVER () AS n
       |  FROM nll
       |), staged AS (
       |  SELECT doc_id, nll,
       |    CAST(((rnk - 1) * $curriculumStages) // n AS BIGINT) AS stage,
       |    $h48 AS skey
       |  FROM ranked
       |)
       |SELECT CAST(row_number() OVER (ORDER BY stage, skey, doc_id)
       |         AS BIGINT) AS ord,
       |       doc_id, stage, nll
       |FROM staged ORDER BY ord""".stripMargin
  }

  // ---- pipe_decontaminate -------------------------------------------

  val decontamN = 5 // n-gram length for overlap detection
  val benchmarkDocs = 50L // doc_id < 50 ≙ the held-out benchmark set

  /** Benchmark decontamination: flag corpus documents sharing any
    * word n-gram with a held-out benchmark set - the test-set-overlap
    * hygiene pass of a training pipeline (distinct from near-dedup:
    * one shared n-gram contaminates, regardless of similarity).
    * The benchmark's hashed n-gram set is small by construction, so it
    * BROADCASTS: the corpus is scanned once and never shuffled for the
    * overlap check (asserted in PlanShapeSpec).
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= decontamN)
      .select(col("doc_id"), explode(expr(gramHashesExpr)).as("h"))
    val benchHashes = grams.filter(col("doc_id") < benchmarkDocs)
      .select(col("h")).distinct()
    val corpusGrams = grams.filter(col("doc_id") >= benchmarkDocs)
    val contaminated = corpusGrams
      .join(broadcast(benchHashes), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    Graft.table(spark, sfDir, "documents")
      .filter(col("doc_id") >= benchmarkDocs)
      .select(col("doc_id"))
      .join(contaminated.withColumn("is_contaminated", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String = {
    val h48 = HashParity.hex48Duck("md5(g)")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
       |  FROM documents WHERE len(regexp_extract_all(text, '\\S+')) >= $decontamN
       |), grams AS (
       |  SELECT DISTINCT doc_id, $h48 AS h FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, len(t) - ${decontamN - 2}),
       |        i -> array_to_string(t[i:i+${decontamN - 1}], ' '))) AS g
       |    FROM toks
       |  )
       |), bench AS (
       |  SELECT DISTINCT h FROM grams WHERE doc_id < $benchmarkDocs
       |), contaminated AS (
       |  SELECT DISTINCT doc_id FROM grams
       |  WHERE doc_id >= $benchmarkDocs AND h IN (SELECT h FROM bench)
       |)
       |SELECT d.doc_id,
       |       (c.doc_id IS NOT NULL) AS is_contaminated
       |FROM documents d LEFT JOIN contaminated c ON c.doc_id = d.doc_id
       |WHERE d.doc_id >= $benchmarkDocs
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Bloom-pruned decontamination: same relation as `decontaminate`
    * (and shares its oracle), but the clean bulk of the corpus never
    * reaches a join. The benchmark's hashed n-gram set is folded into
    * a plan-time Bloom filter (fpp 0.001) probed by the codegen'd
    * `graft_bloom_contains` inside a narrow per-row `exists` - a doc
    * none of whose n-grams MIGHT be in the bench set is exactly clean
    * (Bloom's one-sided error), so only the rare maybe-hits explode
    * their n-grams into the exact verification semi-join, and the
    * false-positive rate bounds that exploded volume. At 100 TB this
    * is the difference between shuffling/probing every corpus n-gram
    * and streaming past 99.9% of documents in one codegen'd scan.
    * The driver-side collect builds the PLAN-TIME filter from the
    * (small by construction) bench set - the same size assumption the
    * broadcast join variant already makes.
    */
  /** The word-5-gram hash array expression shared by every
    * decontamination face (batch join, batch bloom, streaming bloom) -
    * one definition so the faces cannot drift.
    */
  val gramHashesExpr: String = s"graft_gram_hashes(toks, $decontamN)"

  /** Bench n-gram hashes + serialized Bloom filter for `sfDir`.
    * Public face for the streaming decontamination query.
    */
  def benchBloomFor(spark: SparkSession,
                    sfDir: String): (Array[Long], Array[Byte]) = {
    val grams = Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= decontamN)
      .select(col("doc_id"), expr(gramHashesExpr).as("ghs"))
    benchBloom(spark, sfDir, grams)
  }

  /** The benchmark's hashed n-gram set and its serialized Bloom
    * filter, a `Memo` entry per (session, corpus). Building it costs
    * one (tiny, pushed-down) scan of the bench docs, but a fresh plan's
    * compile + first-job overhead dominates that scan, so a caller that
    * decontaminates repeatedly (a pipeline gating multiple corpus drops
    * against one benchmark) should pay it once. The entry is
    * driver-side bytes only (no pinned Spark resources).
    */
  private def benchBloom(spark: SparkSession, sfDir: String,
                         grams: DataFrame): (Array[Long], Array[Byte]) =
    Memo(spark, sfDir, "bench-bloom") {
      val bench = grams.filter(col("doc_id") < benchmarkDocs).persist()
      try {
        val hashes = bench
          .select(explode(col("ghs")).as("h")).distinct()
          .collect().map(_.getLong(0))
        // fpp is PER PROBE and a document probes one gram at a time,
        // so its chance of being falsely flagged is ~grams_per_doc x
        // fpp (measured: fpp 1e-3 x ~56 grams/doc flagged 5.6% of a
        // clean corpus). Size fpp ADAPTIVELY from the measured
        // gram-count distribution - the p95 of the bench subset, same
        // length distribution as the corpus, no extra corpus scan -
        // so the per-document rate stays at the target regardless of
        // document length; bloom bits grow only with log(1/fpp).
        val p95 = bench.select(size(col("ghs")).cast("double").as("g"))
          .stat.approxQuantile("g", Array(0.95), 0.01)
          .headOption.getOrElse(1.0)
        val bloom = org.apache.spark.util.sketch.BloomFilter
          .create(math.max(hashes.length, 1).toLong,
            adaptiveFpp(math.max(p95, 1.0)))
        hashes.foreach(bloom.putLong)
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        (hashes, bos.toByteArray)
      } finally bench.unpersist()
    }

  /** Per-probe fpp that holds a p95-length document's false-flag
    * chance at `bloomDocFpTarget`: fpp = target / grams_per_doc,
    * clamped to a sane range (the floor bounds filter size, the cap
    * keeps the prune useful even for absurd length estimates).
    */
  val bloomDocFpTarget = 0.001
  private[graft] def adaptiveFpp(p95GramsPerDoc: Double): Double =
    math.min(0.001, math.max(1e-8, bloomDocFpTarget / p95GramsPerDoc))

  def decontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val gramsPlan = Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= decontamN)
      .select(col("doc_id"), expr(gramHashesExpr).as("ghs"))
    val (benchHashes, bloomBytes) = benchBloom(spark, sfDir, gramsPlan)
    // hash-once barrier: without it Catalyst collapses the `ghs`
    // projection into BOTH the bloom filter condition and the explode
    // input above it, and every document's several hundred md5 digests
    // are computed twice in the same pass (measured 3x the plain
    // variant's runtime). The InternalRow bridge makes the hashed
    // relation a plan leaf - still a single narrow distributed pass,
    // but the optimizer can no longer substitute the expression upward.
    val grams = org.apache.spark.sql.GraftBridge.ofInternalRows(spark,
      gramsPlan.queryExecution.toRdd, gramsPlan.schema)
    // one codegen'd early-exit loop per document - NOT an `exists`
    // HOF, whose per-element interpretation overhead exceeds the
    // probes themselves on a several-hundred-gram document
    val maybe = grams.filter(col("doc_id") >= benchmarkDocs)
      .filter(call_function("graft_bloom_any",
        lit(bloomBytes), col("ghs")))
    val benchDf = spark.createDataset(benchHashes.toSeq)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("h")
    val contaminated = maybe
      .select(col("doc_id"), explode(col("ghs")).as("h"))
      .join(broadcast(benchDf), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    Graft.table(spark, sfDir, "documents")
      .filter(col("doc_id") >= benchmarkDocs)
      .select(col("doc_id"))
      .join(contaminated.withColumn("is_contaminated", lit(true)),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  // ---- pipe_pack -----------------------------------------------------

  val packBudget = 256L

  /** Sequence packing: assign documents to token-budgeted training
    * bins. Contiguous-fill in the deterministic shuffle order: within
    * a shard, a document's bin is the budget-quotient of its exclusive
    * prefix token sum - each bin holds ~budget tokens (the last doc
    * may spill past the boundary, the standard streaming-packing
    * approximation). Per-shard windows only; no global sort, no
    * sequential driver pass - the 100 TB shape of packing.
    */
  def pack(spark: SparkSession, sfDir: String): DataFrame =
    pack(spark, sfDir, shardsFor(spark))

  def pack(spark: SparkSession, sfDir: String, shards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Graft.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(s"graft_md5_48(concat('$shuffleSalt', CAST(doc_id AS STRING)))")
          .as("skey"),
        expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)")
          .as("n_tok"))
      .withColumn("shard", pmod(col("skey"), lit(shards.toLong)))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr(s"(cum - n_tok) DIV $packBudget"))
      .select(col("shard"), col("bin"), col("doc_id"), col("n_tok"))
      .orderBy(col("shard"), col("bin"), col("doc_id"))
  }

  // ---- pipe_mix ------------------------------------------------------

  val mixFraction = 0.5 // fraction of the corpus the mixture keeps
  val mixSalt = "mix42:"

  /** Temperature-weighted source mixing ≙ the domain-reweighting step
    * of training-data curation: each source's share of the output is
    * ∝ n_source^0.5 (sqrt-temperature flattens the natural
    * distribution, boosting small domains), and membership is decided
    * by a deterministic per-document hash THRESHOLD rather than a
    * rank - so the corpus pays one narrow scan + a broadcast of
    * per-source cutoffs, never a per-source sort (a
    * rank-within-source window would funnel corpus/#sources rows
    * through single reducers at 100 TB). Quotas are hit approximately
    * (hash-uniform), reproducibly (salted hash), and the same doc set
    * is selected on every rerun and engine.
    *
    * Float parity: sqrt is IEEE-exact in both engines; the only
    * order-sensitive reduction (Σ sqrt(n) over sources) runs as a
    * source-name-ordered fold on both sides.
    */
  /** The per-source admission cutoffs - the temperature-mixing PLAN,
    * a model parameter derived once from corpus-wide source counts and
    * consulted by both the batch and streaming admission faces.
    */
  private[graft] def mixCutoffs(spark: SparkSession,
                                sfDir: String): DataFrame = {
    val srcs = Graft.table(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
    val totals = srcs.agg(
      sum(col("n")).as("n_total"),
      expr("""aggregate(array_sort(collect_list(struct(source,
        |  sqrt(CAST(n AS DOUBLE)) AS sq))),
        |  CAST(0 AS DOUBLE), (acc, x) -> acc + x.sq)""".stripMargin)
        .as("denom"))
    srcs.crossJoin(broadcast(totals))
      .select(col("source"),
        expr(s"""CAST(FLOOR(
          |  CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) / denom
          |             * FLOOR(CAST(n_total AS DOUBLE) * $mixFraction))
          |       AS DOUBLE)
          |  / CAST(n AS DOUBLE) * 281474976710656.0) AS BIGINT)"""
          .stripMargin).as("cutoff"))
  }

  /** Stateless per-doc admission under the cutoffs - shared verbatim
    * by the batch and streaming faces.
    */
  private[graft] def mixAdmit(docs: DataFrame,
                              cutoffs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        expr(s"graft_md5_48(concat('$mixSalt', CAST(doc_id AS STRING)))")
          .as("skey"))
      .join(broadcast(cutoffs), "source")
      .filter(col("skey") < col("cutoff"))
      .select(col("doc_id"), col("source"))

  def mix(spark: SparkSession, sfDir: String): DataFrame =
    mixAdmit(Graft.table(spark, sfDir, "documents"),
      mixCutoffs(spark, sfDir))
      .orderBy(col("doc_id"))

  val mixSql: String = {
    val h48 = HashParity.hex48Duck(
      s"md5(concat('$mixSalt', CAST(doc_id AS VARCHAR)))")
    s"""WITH srcs AS (
       |  SELECT source, count(*) AS n FROM documents GROUP BY source
       |), totals AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
       |    list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source))
       |      AS denom
       |  FROM srcs
       |), cutoffs AS (
       |  SELECT source,
       |    CAST(FLOOR(
       |      CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) / denom
       |                 * FLOOR(CAST(n_total AS DOUBLE) * $mixFraction))
       |           AS DOUBLE)
       |      / CAST(n AS DOUBLE) * 281474976710656.0) AS BIGINT)
       |      AS cutoff
       |  FROM srcs CROSS JOIN totals
       |)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN cutoffs c USING (source)
       |WHERE $h48 < c.cutoff
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- pipe_sample_weighted -----------------------------------------

  val wsampleK = 200
  val wsampleSalt = "wsample:"

  /** Weighted sampling without replacement (Efraimidis-Spirakis,
    * "Weighted random sampling with a reservoir", IPL 2006): each doc
    * draws u ~ U(0,1] and the K largest u^(1/w) win - inclusion odds
    * scale with the weight (here token count: length-proportional
    * sampling, the "sample by tokens not documents" knob of corpus
    * curation). Deterministic by construction: u is hash-derived
    * (seed-stable across engines and reruns, like `txt_sample`), and
    * we rank by the monotone-equivalent ln(u)/w quantized to 9
    * decimals with doc_id tie-break, so both engines select the same
    * set. One narrow scan; the global top-K plans as
    * TakeOrderedAndProject (per-partition heaps + a K-row driver
    * merge) - never a full sort, the same 100 TB shape as `txt_vocab`.
    */
  def sampleWeighted(spark: SparkSession, sfDir: String): DataFrame =
    sampleWeightedFrom(Graft.tableParallel(spark, sfDir, "documents"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(wsampleK)

  /** The per-document key derivation, shared with the streaming
    * admission face so the sampling definition cannot drift.
    */
  private[graft] def sampleWeightedFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)")
          .as("weight"),
        expr(s"graft_md5_48(concat('$wsampleSalt', CAST(doc_id AS STRING)))")
          .as("h"))
      .filter(col("weight") >= 1)
      // u in (0, 1]: h is uniform on [0, 2^48)
      .withColumn("skey", ParityMath.q9(
        log((col("h").cast("double") + lit(1.0)) / lit(281474976710656.0))
          / col("weight").cast("double")))
      .select(col("doc_id"), col("weight"), col("skey"))

  val sampleWeightedSql: String = {
    val h48 = HashParity.hex48Duck(
      s"md5(concat('$wsampleSalt', CAST(doc_id AS VARCHAR)))")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS weight,
       |    $h48 AS h
       |  FROM documents
       |  WHERE len(regexp_extract_all(text, '\\S+')) >= 1
       |)
       |SELECT doc_id, weight,
       |  ${ParityMath.q9Sql(
            """ln((CAST(h AS DOUBLE) + 1.0) / 281474976710656.0)
              |/ CAST(weight AS DOUBLE)""".stripMargin)} AS skey
       |FROM t
       |ORDER BY skey DESC, doc_id LIMIT $wsampleK""".stripMargin
  }

  // ---- pipe_repeat_upsample -------------------------------------------

  val upsampleFactor = 2.0
  val upsampleSalt = "upsample:"

  /** Temperature UPSAMPLING with fractional epochs — the inverse of
    * `pipe_source_cap` and the generalization of `pipe_mix`: the
    * target mixture redistributes upsampleFactor·N document slots
    * across sources by the same sqrt-temperature share the mix plan
    * uses, and a source whose quota EXCEEDS its size repeats its
    * docs — quota DIV n full epochs for every doc plus ONE extra for
    * the hash-admitted fraction (quota MOD n)/n — the standard way a
    * training pipeline realizes "2.3 epochs of source X" (repeating
    * small high-value sources a few epochs is near-free for model
    * quality, which is why every data-constrained mixture does it).
    * Emitted rows are (doc_id, source, epoch 1..copies).
    *
    * Same scale discipline as pipe_mix: the plan is a sources-sized
    * model parameter derived from one corpus-wide count (broadcast
    * back), per-doc admission is STATELESS (salted-hash cutoff, never
    * a rank-within-source sort), and the fractional epoch is hit
    * approximately (hash-uniform) but reproducibly on both engines.
    * The explode multiplies rows by the targeted epoch count — the
    * intended output volume, not amplification overhead.
    */
  private[graft] def upsamplePlan(spark: SparkSession,
                                  sfDir: String): DataFrame = {
    val srcs = Graft.table(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
    val totals = srcs.agg(
      sum(col("n")).as("n_total"),
      expr("""aggregate(array_sort(collect_list(struct(source,
        |  sqrt(CAST(n AS DOUBLE)) AS sq))),
        |  CAST(0 AS DOUBLE), (acc, x) -> acc + x.sq)""".stripMargin)
        .as("denom"))
    srcs.crossJoin(broadcast(totals))
      .select(col("source"), col("n"),
        expr(s"""CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) / denom
          |  * FLOOR(CAST(n_total AS DOUBLE) * $upsampleFactor))
          |  AS BIGINT)""".stripMargin).as("quota"))
      .select(col("source"),
        expr("quota DIV n").as("full_epochs"),
        expr("""CAST(FLOOR(CAST(quota % n AS DOUBLE)
          |  / CAST(n AS DOUBLE) * 281474976710656.0) AS BIGINT)"""
          .stripMargin).as("frac_cutoff"))
  }

  /** Stateless per-doc epoch assignment under the plan — shared
    * verbatim by the batch and streaming faces.
    */
  private[graft] def upsampleAdmit(docs: DataFrame,
                                   plan: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        expr(s"graft_md5_48(concat('$upsampleSalt', " +
          "CAST(doc_id AS STRING)))").as("skey"))
      .join(broadcast(plan), "source")
      .select(col("doc_id"), col("source"),
        expr("full_epochs + IF(skey < frac_cutoff, 1L, 0L)")
          .as("copies"))
      .filter(col("copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(CAST(1 AS BIGINT), copies)")).as("epoch"))

  def repeatUpsample(spark: SparkSession, sfDir: String): DataFrame =
    upsampleAdmit(Graft.table(spark, sfDir, "documents"),
      upsamplePlan(spark, sfDir))
      .orderBy(col("doc_id"), col("epoch"))

  val repeatUpsampleSql: String = {
    val h48 = HashParity.hex48Duck(
      s"md5(concat('$upsampleSalt', CAST(doc_id AS VARCHAR)))")
    s"""WITH srcs AS (
       |  SELECT source, count(*) AS n FROM documents GROUP BY source
       |), totals AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
       |    list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY source))
       |      AS denom
       |  FROM srcs
       |), quotas AS (
       |  SELECT source, n,
       |    CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) / denom
       |      * FLOOR(CAST(n_total AS DOUBLE) * $upsampleFactor))
       |      AS BIGINT) AS quota
       |  FROM srcs CROSS JOIN totals
       |), plan AS (
       |  SELECT source, quota // n AS full_epochs,
       |    CAST(FLOOR(CAST(quota % n AS DOUBLE)
       |      / CAST(n AS DOUBLE) * 281474976710656.0) AS BIGINT)
       |      AS frac_cutoff
       |  FROM quotas
       |), admitted AS (
       |  SELECT d.doc_id, d.source,
       |    p.full_epochs
       |      + CASE WHEN $h48 < p.frac_cutoff THEN 1 ELSE 0 END
       |      AS copies
       |  FROM documents d JOIN plan p USING (source)
       |)
       |SELECT doc_id, source,
       |  CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
       |FROM admitted WHERE copies >= 1
       |ORDER BY doc_id, epoch""".stripMargin
  }

  def packSql(shards: Int = oracleShards): String = {
    val h48 = HashParity.hex48Duck(
      s"md5(concat('$shuffleSalt', CAST(doc_id AS VARCHAR)))")
    s"""WITH keyed AS (
       |  SELECT doc_id, $h48 AS skey,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
       |  FROM documents
       |), cums AS (
       |  SELECT doc_id, skey % $shards AS shard, n_tok,
       |    sum(n_tok) OVER (PARTITION BY skey % $shards
       |                     ORDER BY skey, doc_id
       |                     ROWS BETWEEN UNBOUNDED PRECEDING
       |                     AND CURRENT ROW) AS cum
       |  FROM keyed
       |)
       |SELECT shard, CAST((cum - n_tok) // $packBudget AS BIGINT) AS bin,
       |       doc_id, n_tok
       |FROM cums ORDER BY shard, bin, doc_id""".stripMargin
  }

  def shuffleSql(shards: Int = oracleShards): String = {
    val h48 = HashParity.hex48Duck(
      s"md5(concat('$shuffleSalt', CAST(doc_id AS VARCHAR)))")
    s"""WITH keyed AS (
       |  SELECT doc_id, $h48 AS skey FROM documents
       |)
       |SELECT skey % $shards AS shard,
       |       CAST(row_number() OVER (PARTITION BY skey % $shards
       |                               ORDER BY skey, doc_id) AS BIGINT)
       |         AS pos,
       |       doc_id
       |FROM keyed ORDER BY shard, pos""".stripMargin
  }

  // ---- pipe_split -----------------------------------------------------

  /** Validation share: 1/16 of documents, by content-independent
    * salted id hash.
    */
  val splitValDen = 16
  val splitSalt = "split42:"

  /** Deterministic train/validation split - the assignment every
    * training pipeline needs to be (a) reproducible across reruns and
    * environments, (b) stable under corpus appends (a doc's split
    * never changes when other docs arrive - hash of the doc's own id,
    * no sampling state), (c) content-independent (editing a doc must
    * not move it across the split and leak val into train). One
    * narrow, shuffle-free projection; the same salted-md5-48 scheme as
    * pipe_shuffle/pipe_mix, so both engines assign bit-identically.
    */
  def split(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    Graft.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(s"graft_md5_48(concat('$splitSalt', CAST(doc_id AS STRING)))")
          .as("skey"))
      .select(col("doc_id"),
        when(pmod(col("skey"), lit(splitValDen.toLong)) === 0L,
          lit("val")).otherwise(lit("train")).as("split"))
      .orderBy(col("doc_id"))
  }

  val splitSql: String = {
    val h48 = HashParity.hex48Duck(
      s"md5(concat('$splitSalt', CAST(doc_id AS VARCHAR)))")
    s"""SELECT doc_id,
       |  CASE WHEN ($h48) % $splitValDen = 0 THEN 'val'
       |       ELSE 'train' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- pipe_source_cap ------------------------------------------------

  /** Per-source document cap (keep the `sourceCapK` best docs of every
    * source). */
  val sourceCapK = 10

  /** Anti-domain-domination curation: cap every source at its
    * `sourceCapK` highest-quality documents, quality = the corpus's
    * own add-1 unigram NLL (lower = less surprising; the
    * txt_unigram_nll relation, whose q6-quantized double is already
    * bit-identical cross-engine, so it is a safe ordering key), ties
    * by doc_id. The classic "no crawl domain may dominate the mix"
    * step next to pipe_mix's temperature reweighting.
    *
    * 100 TB shape: the group limit runs through the custom TopKPerKey
    * physical operator - map-side partial heaps trim each input
    * partition to <= k rows per source BEFORE the exchange, so a hot
    * domain (exactly the case this operator exists for) ships
    * partitions x k rows instead of its whole crawl, then one bounded
    * heap per source after. No window sort anywhere.
    */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val docs = Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
    val nll = TextAnalysis.unigramNll(spark, sfDir)
      .select(col("doc_id"), col("nll"))
    graft.plans.TopK.perKey(docs.join(nll, Seq("doc_id")),
        Seq("source"), Seq(("nll", true), ("doc_id", true)), sourceCapK)
      .select(col("source"), col("doc_id"), col("nll"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  val sourceCapSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), freq AS (
       |  SELECT term, count(*) AS cnt FROM toks GROUP BY term
       |), totals AS (
       |  SELECT sum(cnt) AS n_total, count(*) AS v_size FROM freq
       |), scored AS (
       |  SELECT t.doc_id,
       |    CAST(floor(-ln(CAST(f.cnt + 1 AS DOUBLE)
       |      / CAST(tt.n_total + tt.v_size AS DOUBLE)) * 1000000.0 + 0.5)
       |      AS BIGINT) AS nll_u
       |  FROM toks t JOIN freq f USING (term) CROSS JOIN totals tt
       |), nll AS (
       |  SELECT doc_id,
       |    ${ParityMath.q6Sql(
              "(CAST(sum(nll_u) AS DOUBLE) / 1000000.0) / count(*)")}
       |      AS nll
       |  FROM scored GROUP BY doc_id
       |), ranked AS (
       |  SELECT d.source, d.doc_id, n.nll,
       |    CAST(row_number() OVER (PARTITION BY d.source
       |      ORDER BY n.nll, d.doc_id) AS BIGINT) AS rk
       |  FROM documents d JOIN nll n USING (doc_id)
       |)
       |SELECT source, doc_id, nll, rk FROM ranked
       |WHERE rk <= $sourceCapK ORDER BY source, rk""".stripMargin

  // ---- pipe_token_budget: per-source token-budget packing ------------

  /** Whitespace-token budget each source may contribute. */
  val tokenBudget: Long = 800L

  /** Token-budget curation: every source contributes its best documents
    * (quality = the corpus's own add-1 unigram NLL, the same
    * bit-stable ordering key sourceCap uses, ties by doc_id) until the
    * next document would push the source's cumulative whitespace-token
    * count past `tokenBudget`. This is the operator a training mix is
    * actually specified in — "N tokens per source", not "N documents"
    * — sourceCap's sibling with the budget in the unit that matters.
    *
    * Admission rule: a document is kept iff the running token total
    * INCLUDING it stays ≤ budget (so one oversized best doc is
    * dropped, and later smaller docs do NOT slide into its place —
    * the cut is a prefix of the quality order, which keeps the result
    * a deterministic function of the per-source ranking and makes the
    * store/stream faces' incremental answer well-defined).
    *
    * 100 TB shape: docs with zero tokens can't exist past the
    * tokenizer (every competing doc carries ≥ 1 token), so no prefix
    * longer than `tokenBudget` documents can fit the budget — the
    * custom TopKPerKey operator therefore pre-trims each source to
    * ≤ `tokenBudget` rows with MAP-SIDE partial heaps before the one
    * source-keyed exchange (a hot crawl domain ships partitions × k
    * rows, never its whole corpus), and the exact cumulative-sum
    * window runs per source over the trimmed ≤ k rows.
    */
  def tokenBudgetPack(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val docs = Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)")
          .as("n_ws"))
      .filter(col("n_ws") >= 1L)
    val nll = TextAnalysis.unigramNll(spark, sfDir)
      .select(col("doc_id"), col("nll"))
    val trimmed = graft.plans.TopK.perKey(docs.join(nll, Seq("doc_id")),
      Seq("source"), Seq(("nll", true), ("doc_id", true)),
      tokenBudget.toInt)
    val wcum = Window.partitionBy(col("source"))
      .orderBy(col("nll"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trimmed
      .withColumn("cum_tokens", sum(col("n_ws")).over(wcum))
      .filter(col("cum_tokens") <= tokenBudget)
      .select(col("source"), col("doc_id"), col("nll"), col("n_ws"),
        col("cum_tokens"))
      .orderBy(col("source"), col("nll"), col("doc_id"))
  }

  // ---- pipe_pack_tokens: concat-and-chunk sequence packing -----------

  /** Fixed training-sequence length (tokens per pack). */
  val packLen: Long = 128L

  /** The landed packing fact both views read: per-document segment
    * rows of the concat-and-chunk packing — concatenate every kept
    * document's tokens in doc_id order, chunk the stream into
    * `packLen`-token training sequences, and emit one row per
    * (document, pack) overlap with exact offsets. This is the
    * manifest a packed-dataset writer consumes: for each segment,
    * which pack it lands in, where in the pack, where in the document,
    * and how many tokens — sufficient to materialize every training
    * sequence (and its cross-document attention-mask boundaries)
    * without re-tokenizing.
    *
    * 100 TB shape: ONE range shuffle (the GlobalRank exclusive
    * prefix-sum machinery — per-partition sums to the driver, never
    * the rows), then a narrow per-row explode of ≤ 1 + n/packLen
    * segment rows. Output volume is docs + total_tokens/packLen rows
    * — the same order as the corpus itself, fully partition-parallel.
    */
  /** The per-document size fact the packing derives from — tiny
    * (16 bytes/doc, never the text), additive under append, and the
    * only thing the store face lands per batch.
    */
  private[pipeline] def packSized(spark: SparkSession,
      sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)")
          .as("n_ws"))
      .filter(col("n_ws") >= 1L)
  }

  /** Segment manifest over any (doc_id, n_ws) size relation — the
    * batch pass and the store face share this derivation verbatim.
    */
  private[pipeline] def packSegmentsFrom(sized: DataFrame): DataFrame = {
    val (cum, total) = graft.core.GlobalRank.withPrefixSum(
      sized, Seq(col("doc_id")), "n_ws", "tok_start")
    require(total <= Long.MaxValue / packLen,
      s"token stream $total too large for pack arithmetic headroom")
    val L = lit(packLen)
    cum
      .withColumn("tok_end", col("tok_start") + col("n_ws") - 1L)
      .withColumn("pack_id", explode(sequence(
        expr(s"tok_start DIV $packLen"), expr(s"tok_end DIV $packLen"))))
      .withColumn("seg_start",
        greatest(col("tok_start"), col("pack_id") * L))
      .select(col("pack_id"), col("doc_id"),
        (col("seg_start") - col("pack_id") * L).as("off_in_pack"),
        (col("seg_start") - col("tok_start")).as("off_in_doc"),
        (least(col("tok_end"), (col("pack_id") + 1L) * L - 1L)
          - col("seg_start") + 1L).as("seg_len"))
  }

  private[pipeline] def packSegments(spark: SparkSession,
      sfDir: String): DataFrame =
    packSegmentsFrom(packSized(spark, sfDir))

  /** The packing manifest itself, ordered by (pack, offset). */
  def packTokens(spark: SparkSession, sfDir: String): DataFrame =
    packSegments(spark, sfDir)
      .orderBy(col("pack_id"), col("off_in_pack"))

  /** Per-pack occupancy scorecard over the same segment fact: how many
    * documents each training sequence interleaves (the attention-mask
    * fan-in) and whether it is boundary-tight — every pack but the
    * tail must hold exactly `packLen` tokens with zero leading gap.
    */
  def packStats(spark: SparkSession, sfDir: String): DataFrame =
    packSegments(spark, sfDir)
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("seg_len")).as("n_tokens"))
      .select(col("pack_id"), col("n_segs"), col("n_tokens"),
        (col("n_tokens") === lit(packLen)).as("is_full"))
      .orderBy(col("pack_id"))

  private def packSegSql: String =
    s"""sized AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws
       |  FROM documents
       |  WHERE len(regexp_extract_all(text, '\\S+')) >= 1
       |), c AS (
       |  SELECT doc_id, n_ws,
       |    CAST(COALESCE(sum(n_ws) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS tok_start
       |  FROM sized
       |), seg AS (
       |  SELECT doc_id, tok_start, tok_start + n_ws - 1 AS tok_end,
       |    unnest(range(tok_start // $packLen,
       |                 (tok_start + n_ws - 1) // $packLen + 1)) AS p
       |  FROM c
       |), segs AS (
       |  SELECT CAST(p AS BIGINT) AS pack_id, doc_id,
       |    greatest(tok_start, p * $packLen) - p * $packLen AS off_in_pack,
       |    greatest(tok_start, p * $packLen) - tok_start AS off_in_doc,
       |    least(tok_end, (p + 1) * $packLen - 1)
       |      - greatest(tok_start, p * $packLen) + 1 AS seg_len
       |  FROM seg
       |)""".stripMargin

  val packTokensSql: String =
    s"""WITH $packSegSql
       |SELECT pack_id, doc_id, CAST(off_in_pack AS BIGINT) AS off_in_pack,
       |  CAST(off_in_doc AS BIGINT) AS off_in_doc,
       |  CAST(seg_len AS BIGINT) AS seg_len
       |FROM segs ORDER BY pack_id, off_in_pack""".stripMargin

  val packStatsSql: String =
    s"""WITH $packSegSql
       |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_segs,
       |  CAST(sum(seg_len) AS BIGINT) AS n_tokens,
       |  sum(seg_len) = $packLen AS is_full
       |FROM segs GROUP BY pack_id ORDER BY pack_id""".stripMargin

  val tokenBudgetSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), freq AS (
       |  SELECT term, count(*) AS cnt FROM toks GROUP BY term
       |), totals AS (
       |  SELECT sum(cnt) AS n_total, count(*) AS v_size FROM freq
       |), scored AS (
       |  SELECT t.doc_id,
       |    CAST(floor(-ln(CAST(f.cnt + 1 AS DOUBLE)
       |      / CAST(tt.n_total + tt.v_size AS DOUBLE)) * 1000000.0 + 0.5)
       |      AS BIGINT) AS nll_u
       |  FROM toks t JOIN freq f USING (term) CROSS JOIN totals tt
       |), nll AS (
       |  SELECT doc_id,
       |    ${ParityMath.q6Sql(
              "(CAST(sum(nll_u) AS DOUBLE) / 1000000.0) / count(*)")}
       |      AS nll
       |  FROM scored GROUP BY doc_id
       |), sized AS (
       |  SELECT d.source, d.doc_id, n.nll,
       |    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_ws
       |  FROM documents d JOIN nll n USING (doc_id)
       |  WHERE len(regexp_extract_all(d.text, '\\S+')) >= 1
       |), c AS (
       |  SELECT source, doc_id, nll, n_ws,
       |    CAST(sum(n_ws) OVER (PARTITION BY source ORDER BY nll, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_tokens
       |  FROM sized
       |)
       |SELECT source, doc_id, nll, n_ws, cum_tokens FROM c
       |WHERE cum_tokens <= $tokenBudget
       |ORDER BY source, nll, doc_id""".stripMargin
}
