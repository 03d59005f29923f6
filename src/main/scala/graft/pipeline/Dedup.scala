package graft.pipeline

import graft.core.{Graft, Memo}
import HashParity._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Document deduplication suite: exact, MinHash+LSH, n-gram Jaccard
  * verification, SimHash. Designed for the 100 TB shape:
  *   - shingling/hashing is narrow per-document work (one pass, codegen);
  *   - the only shuffles are keyed on (band, bucket) / (chunk, value) -
  *     the standard LSH bucket-join, skew-safe because the band index is
  *     part of the key;
  *   - candidate pairs are pruned by doc_a < doc_b before the (small)
  *     verification join.
  */
object Dedup {

  val minhashK = 32
  val bandRows = 4
  val numBands: Int = minhashK / bandRows // 8
  val jaccardThreshold = 0.8
  val simhashBits = 48
  val hammingThreshold = 6

  /** Chunk count giving the PIGEONHOLE GUARANTEE at the family's own
    * threshold: k chunks guarantee recall 1.0 for Hamming distance
    * ≤ k−1 (a pair within d flips can ruin at most d chunks), so
    * `hammingThreshold` = 6 needs 7 chunks. r13 ran 4×12-bit chunks,
    * which only guarantee d ≤ 3 — `dd_simhash_eval` measured the gap
    * as recall 0.669 with the miss mode planted in spec (VERDICT r13
    * #2/next-round #2). The price is bucket volume: 7-bit chunk
    * values collide ~32× more often than 12-bit ones per chunk — the
    * standard HmSearch trade, paid in the SAME bucketed-join shape
    * (never all-pairs), and the per-pair Hamming verdict is unchanged.
    */
  val simhashChunks = 7

  /** Deployment knob `graft.dedup.simhashChunks` (the trainN posture-
    * conf contract: default replayed by the oracles, junk throws):
    * k chunks guarantee recall 1.0 only to Hamming distance k−1, so
    * lowering k below 7 trades the d ≤ 6 guarantee floor for smaller
    * bucket volume (wider chunk values collide less) — a deployment
    * whose dedup SLO tolerates missing the far tail can run k=4 at
    * r13's measured recall 0.669 and ~1/4 the candidate volume. The
    * gated runs leave the conf unset.
    */
  def simhashChunksOf(spark: SparkSession): Int =
    spark.conf.getOption("graft.dedup.simhashChunks").map { v =>
      val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"graft.dedup.simhashChunks must be a positive int, got '$v'"))
      require(n >= 1 && n <= simhashBits,
        s"graft.dedup.simhashChunks must be in [1, $simhashBits], got $n")
      n
    }.getOrElse(simhashChunks)

  /** (shift, mask) per chunk for a given chunk count: widths differ by
    * at most one (6×7 + 1×6 at the default 7 over 48 bits) — single
    * source for the Spark face AND every oracle (text simhash, image
    * ahash share it via `simhashChunkBranchesSql`).
    */
  private[graft] def simhashChunkSpecFor(k: Int): Seq[(Int, Int)] = {
    val base = simhashBits / k
    val extra = simhashBits % k
    val widths =
      Seq.tabulate(k)(c => if (c < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
      .map { case (sh, w) => (sh, (1 << w) - 1) }
  }

  private[graft] val simhashChunkSpec: Seq[(Int, Int)] =
    simhashChunkSpecFor(simhashChunks)

  /** The DuckDB chunk-explode branches over a `(doc_id, sim)` CTE —
    * shared by simhashPairsSql / simhashEvalSql / ahashPairsSql so
    * the blocking scheme cannot drift between faces or engines.
    */
  private[graft] def simhashChunkBranchesSql(src: String): Seq[String] =
    simhashChunkSpec.zipWithIndex.map { case ((sh, m), c) =>
      s"  SELECT doc_id, sim, $c AS c, (sim >> $sh) & $m AS v FROM $src"
    }

  // ---- dd_exact ------------------------------------------------------

  /** Exact dedup: group by content digest; each row keeps its group's
    * size and whether it is the canonical (min doc_id) copy. One shuffle
    * on the digest.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withColumn("group_size", count(lit(1)).over(w).cast(LongType))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(w))
      .select(col("doc_id"), col("content_hash"), col("group_size"),
        col("is_canonical"))
      .orderBy(col("doc_id"))
  }

  val exactSql: String =
    """SELECT doc_id, md5(text) AS content_hash,
      |  CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
      |    AS group_size,
      |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- dd_dup_spans ----------------------------------------------------

  /** Span n-gram width for substring-level duplication. 5 words is wide
    * enough that shared spans mean shared provenance, narrow enough to
    * fire on the verify-scale corpus; production substring dedup uses
    * ~50-token spans over the same dataflow.
    */
  val spanN = 5

  /** Substring-LEVEL duplication signal: for each document, the
    * fraction of its tokens covered by some word `spanN`-gram that
    * occurs more than once in the corpus (within- or cross-document).
    * Doc-level dedup (exact/minhash/simhash) misses boilerplate spans
    * embedded in otherwise-unique documents; this is the per-token
    * coverage measure a span-removal pass would act on.
    *
    * Dataflow at 100 TB: one narrow tokenize+hash pass per document
    * (positional gram hashes via the codegen'd kernel); ONE corpus-wide
    * shuffle keyed on the 48-bit gram hash whose volume after map-side
    * partial aggregation is distinct-grams, not occurrences; the
    * repeated-gram relation (bounded by the volume of duplicated
    * content) joins back to the positional stream - AQE broadcasts it
    * when it fits, falling back to a hash join keyed on the same gram
    * hash. Only COVERED positions (again: duplicated content only)
    * enter the per-document interval-union window; the union itself is
    * the classic gaps-and-islands rewrite, one doc-keyed shuffle of the
    * covered positions. No global sort, nothing driver-side.
    */
  def dupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    dupSpansFrom(Graft.tableParallel(spark, sfDir, "documents"))
  }

  /** (doc_id, toks) from any (doc_id, text) relation. */
  private[graft] def spanToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr("regexp_extract_all(text, '\\\\S+', 0)").as("toks"))

  /** The positional gram stream (doc_id, pos, gh) - the span family's
    * signature relation (pure per-document, so incrementally
    * appendable; see SignatureStore.catchUpSpans).
    */
  private[graft] def spanGrams(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"),
      posexplode(expr(s"graft_gram_hashes_all(toks, $spanN)"))
        .as(Seq("pos", "gh")))

  /** Merged covered intervals from a (doc_id, pos) covered-position
    * relation. Interval union per doc: the gram at pos covers
    * [pos, pos+spanN-1]; a new island starts when a gram begins past
    * the running max end, so every island is contiguous.
    */
  private[graft] def islandsFromCovered(covered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    covered
      .withColumn("prev_end",
        max(col("pos") + lit(spanN - 1))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("lo"),
        (max(col("pos")) + lit(spanN - 1)).as("hi"))
      .select(col("doc_id"), col("lo"), col("hi"))
  }

  /** Per-doc MERGED covered intervals `[lo, hi]` (0-based token
    * positions lying inside some corpus-repeated `spanN`-gram) -
    * the shared core of the dup-span signal and the scrub action.
    */
  private[pipeline] def coveredIslandsFrom(toks: DataFrame): DataFrame = {
    val grams = spanGrams(toks)
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(col("gh"))
    islandsFromCovered(
      grams.join(dup, "gh").select(col("doc_id"), col("pos")))
  }

  /** Final dup-span assembly from a (doc_id, n_tokens) base and the
    * island relation - shared by the one-shot batch face and the
    * incremental-store face so the ratio semantics cannot drift.
    */
  private[pipeline] def dupSpansAssemble(base: DataFrame,
                                         islands: DataFrame): DataFrame = {
    val cov = islands.groupBy(col("doc_id"))
      .agg(sum(col("hi") - col("lo") + lit(1L)).as("covered_tokens"))
    base.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        ParityMath.q6(
          when(col("n_tokens") === 0L, lit(0.0))
            .otherwise(
              coalesce(col("covered_tokens"), lit(0L)).cast("double") /
                col("n_tokens").cast("double"))).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Core of `dupSpans` over any (doc_id, text) relation. */
  def dupSpansFrom(docs: DataFrame): DataFrame = {
    val toks = spanToks(docs)
    val base = toks.select(col("doc_id"),
      size(col("toks")).cast(LongType).as("n_tokens"))
    dupSpansAssemble(base, coveredIslandsFrom(toks))
  }

  /** Shared DuckDB CTE chain ending in `islands(doc_id, lo, hi)` -
    * the merged covered intervals - plus `t(doc_id, toks)` and
    * `base(doc_id, n_tokens)`. The oracle twin of
    * `coveredIslandsFrom`.
    */
  private val spanCteDuck: String = {
    val gh = hex48Duck(
      s"md5(array_to_string(toks[u.i:u.i+${spanN - 1}], ' '))")
    s"""t AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
       |  FROM documents
       |), base AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t
       |), g AS (
       |  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, $gh AS gh
       |  FROM t, unnest(generate_series(1, greatest(len(toks) - ${spanN - 1}, 0))) u(i)
       |), dup AS (
       |  SELECT gh FROM g GROUP BY gh HAVING count(*) > 1
       |), cov0 AS (
       |  SELECT doc_id, pos FROM g JOIN dup USING (gh)
       |), isl AS (
       |  SELECT doc_id, pos,
       |    max(pos + ${spanN - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM cov0
       |), isl2 AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl
       |), islands AS (
       |  SELECT doc_id, min(pos) AS lo, max(pos) + ${spanN - 1} AS hi
       |  FROM isl2 GROUP BY doc_id, island
       |)""".stripMargin
  }

  val dupSpansSql: String =
    s"""WITH $spanCteDuck, c AS (
       |  SELECT doc_id, CAST(sum(hi - lo + 1) AS BIGINT) AS covered_tokens
       |  FROM islands GROUP BY doc_id
       |)
       |SELECT b.doc_id, b.n_tokens,
       |  coalesce(c.covered_tokens, 0) AS covered_tokens,
       |  ${ParityMath.q6Sql(
            """CASE WHEN b.n_tokens = 0 THEN CAST(0.0 AS DOUBLE)
              |ELSE CAST(coalesce(c.covered_tokens, 0) AS DOUBLE)
              |     / CAST(b.n_tokens AS DOUBLE) END""".stripMargin)} AS dup_ratio
       |FROM base b LEFT JOIN c USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** The ACTION of `dd_dup_spans`: every token covered by a
    * corpus-repeated `spanN`-gram is REMOVED from the document (the
    * aggressive boilerplate-scrub form of substring dedup; output text
    * is whitespace-normalized since both engines reassemble from the
    * token array). The corpus stays narrow end to end: the merged
    * island set per doc (a handful of [lo, hi] pairs, bounded by
    * duplicated content) collects into ONE array column, joins back by
    * doc_id, and the rewrite is an in-row indexed `filter` + exists -
    * tokens never explode for reassembly and never shuffle.
    */
  def spanScrub(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    spanScrubFrom(Graft.tableParallel(spark, sfDir, "documents"))
  }

  /** Core of `spanScrub` over any (doc_id, text) relation. */
  def spanScrubFrom(docs: DataFrame): DataFrame = {
    val toks = spanToks(docs)
    spanScrubAssemble(toks, coveredIslandsFrom(toks))
  }

  /** The in-row rewrite from a (doc_id, toks) relation and the island
    * relation - shared by the batch face and the streaming admission
    * face so the scrub semantics cannot drift.
    */
  private[graft] def spanScrubAssemble(toks: DataFrame,
                                          islands: DataFrame): DataFrame = {
    val spans = islands
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("lo"), col("hi"))).as("spans"),
        sum(col("hi") - col("lo") + lit(1L)).as("n_removed"))
    toks.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("spans").isNull, array_join(col("toks"), " "))
          .otherwise(expr(
            """array_join(filter(toks, (t, i) ->
              |  NOT exists(spans, s -> i >= s.lo AND i <= s.hi)), ' ')"""
              .stripMargin)).as("text_scrubbed"))
      .orderBy(col("doc_id"))
  }

  val spanScrubSql: String =
    s"""WITH $spanCteDuck, tp AS (
       |  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, toks[u.i] AS tok
       |  FROM t, unnest(generate_series(1, len(toks))) u(i)
       |), kept AS (
       |  SELECT p.doc_id, p.pos, p.tok
       |  FROM tp p LEFT JOIN islands s
       |    ON p.doc_id = s.doc_id AND p.pos BETWEEN s.lo AND s.hi
       |  WHERE s.lo IS NULL
       |), rm AS (
       |  SELECT doc_id, CAST(sum(hi - lo + 1) AS BIGINT) AS n_removed
       |  FROM islands GROUP BY doc_id
       |), sc AS (
       |  SELECT doc_id,
       |    coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS text_scrubbed
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT b.doc_id, b.n_tokens,
       |  coalesce(rm.n_removed, 0) AS n_removed,
       |  coalesce(sc.text_scrubbed, '') AS text_scrubbed
       |FROM base b
       |LEFT JOIN rm USING (doc_id)
       |LEFT JOIN sc USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  // ---- shared shingle/minhash plumbing -------------------------------

  /** doc_id + distinct word-3-gram shingle array + 48-bit shingle hash
    * array + per-token 48-bit hash array (`hst`, duplicates kept - the
    * SimHash weighting input) from any (doc_id, text) relation - batch
    * table or stream. ONE narrow tokenize+hash pass feeds minhash, LSH,
    * Jaccard AND SimHash; at 100 TB a second full-corpus tokenize pass
    * is exactly what sharing this relation removes. Docs shorter than 3
    * tokens carry empty shingle arrays (they still have token hashes);
    * `bandsFrom` filters them out of the LSH key stream.
    */
  def shinglesFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        // fused codegen'd passes: distinct 3-gram hashes and per-token
        // hashes straight from the token array - the HOF formulation
        // (array_distinct over transform lambdas) paid ~5 interpreted
        // frames per shingle, the dominant dedup-family cost at scale
        expr("graft_gram_hashes(toks, 3)").as("hs"),
        expr("graft_token_hashes(toks)").as("hst"))

  /** Batch face: the persisted, session-shared signature relation. */
  private def shingled(spark: SparkSession, sfDir: String): DataFrame =
    SignatureStore.shingles(spark, sfDir)

  private[pipeline] val shingledCteDuck: String = {
    val h48 = hex48Duck("md5(s)")
    s"""t0 AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
       |  FROM documents
       |  WHERE len(regexp_extract_all(text, '\\S+')) >= 3
       |), t AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM t0
       |), hs AS (
       |  SELECT doc_id, sh,
       |    list_transform(sh, s -> $h48) AS hs
       |  FROM t
       |)""".stripMargin
  }

  /** Minhash signature i as a Spark SQL expr over the `hs` array. */
  private def sigExprSpark(i: Int): String =
    s"array_min(transform(hs, h -> (${permA(i)} * h + ${permB(i)}) % ${P}L))"

  private def sigExprDuck(i: Int): String =
    s"list_min(list_transform(hs, h -> (${permA(i)} * h + ${permB(i)}) % $P))"

  /** (doc_id, band, band_hash) exploded from a shingle relation - the
    * LSH bucket key stream, usable over batch or streaming input.
    */
  def bandsFrom(sh: DataFrame): DataFrame =
    bandsFromWith(sh, numBands, bandRows)

  /** Parameterized banding over the SAME 32 signatures — the S-curve
    * eval sweeps (bands × rows) splits of one signature matrix, so
    * the comparison isolates the banding choice (nothing re-hashes).
    */
  private[pipeline] def bandsFromWith(sh: DataFrame, nb: Int,
                                      br: Int): DataFrame = {
    // all 32 signatures in ONE traversal of hs (the relational form,
    // kept as `sigExprSpark` for the parity cross-check, runs 32
    // interpreted array_min(transform) passes per document); null sigs
    // (empty hs) keep flowing into the empty-band guard below
    val sigsCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.MinHashSigs(
        org.apache.spark.sql.GraftBridge.expression(col("hs")),
        (0 until minhashK).map(permA).toArray,
        (0 until minhashK).map(permB).toArray, P))
    val bandStructs = (0 until nb).map { b =>
      val sigs = (0 until br)
        .map(r => s"CAST(element_at(sigs, ${b * br + r + 1}) AS STRING)")
      s"named_struct('b', $b, 'h', md5(concat_ws(':', ${sigs.mkString(", ")})))"
    }
    // sub-3-token docs carry empty shingle arrays: their sigs are null
    // (MinHashSigs on empty input), which concat_ws would silently
    // SKIP, hashing every short doc into one shared bucket. They are
    // excluded by EMPTYING the band array inside the explode expression
    // (explode emits nothing for an empty array) rather than with a
    // filter on size(hs): a separate Filter operator would evaluate the
    // whole shingle pipeline once for the predicate and AGAIN for the
    // projection when the input is an unpersisted lineage (the
    // streaming face). The `sigs` alias is referenced 33 times by the
    // Generate input, which also keeps CollapseProject from inlining
    // the signature computation per reference.
    sh.withColumn("sigs", sigsCol)
      .select(col("doc_id"),
        explode(expr(
          s"""CASE WHEN sigs IS NOT NULL
             |THEN array(${bandStructs.mkString(", ")})
             |ELSE CAST(array() AS ARRAY<STRUCT<b: INT, h: STRING>>)
             |END""".stripMargin)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.h").as("h"))
  }

  /** Batch face: persisted in the SignatureStore (the candidate
    * self-join reads it from both sides).
    */
  private def bandsDf(spark: SparkSession, sfDir: String): DataFrame =
    SignatureStore.bands(spark, sfDir, s"minhash-b${numBands}r$bandRows",
      bandsFrom)

  private[pipeline] def bandsCteDuckWith(nb: Int, br: Int,
                                         name: String): String = {
    val branches = (0 until nb).map { b =>
      val sigs = (0 until br)
        .map(r => s"CAST(${sigExprDuck(b * br + r)} AS VARCHAR)")
      s"""  SELECT doc_id, $b AS b,
         |    md5(concat_ws(':', ${sigs.mkString(", ")})) AS h
         |  FROM hs""".stripMargin
    }
    s"$name AS (\n${branches.mkString("\n  UNION ALL\n")}\n)"
  }

  private[pipeline] val bandsCteDuck: String =
    bandsCteDuckWith(numBands, bandRows, "bands")

  // ---- dd_minhash_lsh ------------------------------------------------

  /** Candidate near-duplicate pairs: docs sharing any LSH band bucket.
    * The self-join shuffles on (b, h) - bounded bucket sizes, band index
    * in the key.
    */
  /** The distinct LSH candidate pair relation, session-shared
    * (`SignatureStore.tier` — the materialization a deployment writes
    * between candidate generation and every verify/eval consumer).
    * Unordered: each consumer face applies its own contract order.
    */
  private[pipeline] def candPairs(spark: SparkSession,
                                  sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "lsh-cand") {
      val bands = bandsDf(spark, sfDir)
      bands.as("x").join(bands.as("y"),
          col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
    }

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    candPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  val minhashLshSql: String =
    s"""WITH $shingledCteDuck, $bandsCteDuck
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM bands x JOIN bands y
       |  ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dd_edit_verify ----------------------------------------------------

  /** Verification prefix (chars) and the accept ratio: a candidate
    * pair is a verified near-dup when den·dist ≤ max(len_a, len_b)
    * over the capped prefixes — ≤ 10% edits. Distances CLAMP at
    * `editDistCap` = prefix/den + 1: any larger distance fails the
    * verdict for every possible length (den·cap > prefix ≥ max len),
    * so the clamp loses nothing — and it lets the Spark side run the
    * BANDED O(cap·len) threshold DP instead of the full O(len²) table
    * (measured 11.2 s → banded at sf0.1: the one out-of-band cost in
    * the r13 sweep; the oracle replays the clamp with least()).
    */
  val editPrefixChars = 256
  val editVerifyDen = 10L
  val editDistCap: Long = editPrefixChars / editVerifyDen + 1

  /** EDIT-DISTANCE VERIFICATION of the MinHash-LSH candidates — the
    * character-level second opinion next to the set-based verifies
    * (`dd_lsh_eval` scores the banding against shingle-Jaccard truth;
    * this re-judges each candidate on the RAW TEXT, the signal
    * shingles blur: transpositions, small in-place edits). Exact
    * Levenshtein is O(L²) per pair, so the contract caps both sides
    * at `editPrefixChars` chars — a deterministic rule both engines
    * apply identically (the cooccur cap philosophy: a bound you can
    * reason about, not a sample), and the documented deployment knob
    * when corpora carry longer near-identical prefixes.
    *
    * 100 TB shape: candidate generation stays banded/bucketed (never
    * all-pairs — the LSH join's plan); verification adds two
    * doc-keyed joins to fetch capped prefixes and a per-row O(P²)
    * codegen'd levenshtein, volume O(|candidates|).
    */
  def editVerify(spark: SparkSession, sfDir: String): DataFrame =
    editVerifyFrom(candPairs(spark, sfDir),
      Graft.tableParallel(spark, sfDir, "documents"))

  /** The verify over any (doc_a, doc_b) candidate relation — shared
    * by the batch face, the streaming candidate state's view and the
    * document store's view (order-independent, the containmentVerify
    * argument).
    */
  private[graft] def editVerifyFrom(cand: DataFrame,
                                    docs: DataFrame): DataFrame = {
    val px = docs.select(col("doc_id"),
      substring(col("text"), 1, editPrefixChars).as("px"))
    cand
      .join(px.select(col("doc_id").as("doc_a"), col("px").as("pa")),
        "doc_a")
      .join(px.select(col("doc_id").as("doc_b"), col("px").as("pb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        length(col("pa")).cast(LongType).as("len_a"),
        length(col("pb")).cast(LongType).as("len_b"),
        expr(s"levenshtein(pa, pb, ${editDistCap.toInt})").as("d0"))
      .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
        when(col("d0") < 0, lit(editDistCap))
          .otherwise(col("d0").cast(LongType)).as("dist"))
      .withColumn("dup", lit(editVerifyDen) * col("dist") <=
        greatest(col("len_a"), col("len_b")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val editVerifySql: String =
    s"""WITH $shingledCteDuck, $bandsCteDuck,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
       |),
       |px AS (
       |  SELECT doc_id, substr(text, 1, $editPrefixChars) AS px
       |  FROM documents
       |)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(len(a.px) AS BIGINT) AS len_a,
       |  CAST(len(b.px) AS BIGINT) AS len_b,
       |  least(CAST(levenshtein(a.px, b.px) AS BIGINT), $editDistCap)
       |    AS dist,
       |  $editVerifyDen *
       |    least(CAST(levenshtein(a.px, b.px) AS BIGINT), $editDistCap)
       |    <= greatest(CAST(len(a.px) AS BIGINT),
       |                CAST(len(b.px) AS BIGINT)) AS dup
       |FROM cand c
       |JOIN px a ON a.doc_id = c.doc_a
       |JOIN px b ON b.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dd_lsh_eval ------------------------------------------------------

  /** DEDUP-QUALITY scorecard: precision/recall of the MinHash-LSH
    * candidate pairs against the EXACT threshold-Jaccard truth — the
    * eval-family member for dedup, next to `ann_recall_eval` (index
    * recall), `txt_langid_eval` (confusion matrix), `q_retrieval_eval`
    * (P@k/nDCG) and `pipe_qclf_eval` (held-out AUC): the numbers a
    * pipeline owner actually reads before trusting banding parameters
    * (8×4 here — more bands buy recall, longer bands buy precision).
    * Both relations come from the production faces themselves
    * (`minhashLsh` candidates, `jaccardPrefix` truth), pairs
    * canonicalized to (min id, max id) because the prefix join orders
    * by (size, id), not id. Counts are exact integers; the two ratios
    * are ONE q6 division each.
    */
  def lshEval(spark: SparkSession, sfDir: String): DataFrame = {
    // both inputs are session-shared checkpointed tiers: the cheap
    // canonicalizing projections below re-run per agg job over flat
    // leaves, so the extra per-query localCheckpoint jobs are gone
    val cand = candPairs(spark, sfDir)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val truth = jaccardTruth(spark, sfDir)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    cand.agg(count(lit(1)).as("n_cand"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .crossJoin(broadcast(cand.join(truth, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_hit"))))
      .select(col("n_cand"), col("n_true"), col("n_hit"),
        when(col("n_cand") > 0, ParityMath.q6(
          col("n_hit").cast("double") / col("n_cand").cast("double")))
          .as("precision"),
        when(col("n_true") > 0, ParityMath.q6(
          col("n_hit").cast("double") / col("n_true").cast("double")))
          .as("recall"))
  }

  /** Oracle independence: the truth side replays as the UNTILED
    * brute-force all-pairs Jaccard (the session-overlap discipline —
    * the gate certifies the prefix filter's exactness again, from the
    * other side), the candidate side as the banding join.
    */
  val lshEvalSql: String =
    s"""WITH $shingledCteDuck, $bandsCteDuck, cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
       |), truth AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE (floor((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / CAST(len(a.hs) + len(b.hs)
       |               - len(list_intersect(a.hs, b.hs)) AS DOUBLE))
       |      * 1000000.0 + 0.5) / 1000000.0) >= $jaccardThreshold
       |), cc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
       |hh AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hit
       |  FROM cand JOIN truth USING (doc_a, doc_b)
       |)
       |SELECT n_cand, n_true, n_hit,
       |  CASE WHEN n_cand > 0 THEN ${ParityMath.q6Sql(
          "CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)")} END
       |    AS precision,
       |  CASE WHEN n_true > 0 THEN ${ParityMath.q6Sql(
          "CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)")} END
       |    AS recall
       |FROM cc, tt, hh""".stripMargin

  // ---- dd_lsh_curve ------------------------------------------------------

  /** The banding configurations the S-curve sweeps — three (bands ×
    * rows) splits of the SAME 32-signature matrix, so the comparison
    * isolates the banding choice: longer bands (4×8) buy precision,
    * more bands (16×2) buy recall.
    */
  val lshCurveConfigs: Seq[(Int, Int)] = Seq((4, 8), (8, 4), (16, 2))

  final case class LshCurveRow(bands: Long, rows_per_band: Long,
                               n_cand: Long, n_true: Long, n_hit: Long,
                               precision: Double, recall: Double)

  /** The LSH TUNING TABLE: `dd_lsh_eval`'s precision/recall measured
    * at every `lshCurveConfigs` banding of one signature matrix — the
    * S-curve a pipeline owner actually consults when picking (b, r)
    * for a target Jaccard threshold. All counting is distributed (the
    * per-config candidate joins and the truth intersection); only the
    * three bounded scalar counts reach the driver, where the two q6
    * ratios are formed exactly as the oracle forms them.
    */
  def lshCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    // truth is the session-shared exact-AllPairs tier (one compute per
    // session, reused by dd_jaccard_prefix/dd_lsh_eval); the three
    // banding configs are TAGGED into one relation so one candidate
    // join prices all of them — the per-config serial loop paid three
    // band materializations, three join jobs and three hit joins for
    // what is one (cfg, b, h)-keyed join + two grouped counts
    val truth = jaccardTruth(spark, sfDir)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val sh = shingled(spark, sfDir)
    val bands = lshCurveConfigs.zipWithIndex.map { case ((nb, br), i) =>
      bandsFromWith(sh, nb, br)
        .select(lit(i).as("cfg"), col("doc_id"), col("b"), col("h"))
    }.reduce(_ unionAll _).localCheckpoint()
    val cand = bands.as("x").join(bands.as("y"),
        col("x.cfg") === col("y.cfg") &&
        col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.cfg").as("cfg"),
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint()
    val nTrue = truth.count()
    val nCand = cand.groupBy(col("cfg")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nHit = cand.join(truth, Seq("doc_a", "doc_b"))
      .groupBy(col("cfg")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val rows = lshCurveConfigs.zipWithIndex.map { case ((nb, br), i) =>
      val c = nCand.getOrElse(i, 0L)
      val h = nHit.getOrElse(i, 0L)
      LshCurveRow(nb.toLong, br.toLong, c, nTrue, h,
        if (c > 0) q6(h.toDouble / c) else Double.NaN,
        if (nTrue > 0) q6(h.toDouble / nTrue) else Double.NaN)
    }
    rows.toDF().orderBy(col("bands"))
  }

  val lshCurveSql: String = {
    val cfgs = lshCurveConfigs.map { case (nb, br) =>
      val bname = s"bands_${nb}_$br"
      val cname = s"cand_${nb}_$br"
      val ctes =
        s"""${bandsCteDuckWith(nb, br, bname)}, $cname AS MATERIALIZED (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM $bname x JOIN $bname y
           |    ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
           |)""".stripMargin
      val row =
        s"""SELECT CAST($nb AS BIGINT) AS bands,
           |  CAST($br AS BIGINT) AS rows_per_band,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $cname) AS n_cand,
           |  (SELECT CAST(count(*) AS BIGINT)
           |   FROM $cname JOIN truth USING (doc_a, doc_b)) AS n_hit""".stripMargin
      (ctes, row)
    }
    s"""WITH $shingledCteDuck, truth AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       |  WHERE (floor((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / CAST(len(a.hs) + len(b.hs)
       |               - len(list_intersect(a.hs, b.hs)) AS DOUBLE))
       |      * 1000000.0 + 0.5) / 1000000.0) >= $jaccardThreshold
       |), tt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
       |${cfgs.map(_._1).mkString(",\n")}
       |SELECT bands, rows_per_band, n_cand, n_true, n_hit,
       |  CASE WHEN n_cand > 0 THEN ${ParityMath.q6Sql(
          "CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)")}
       |       ELSE CAST('nan' AS DOUBLE) END AS precision,
       |  CASE WHEN n_true > 0 THEN ${ParityMath.q6Sql(
          "CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)")}
       |       ELSE CAST('nan' AS DOUBLE) END AS recall
       |FROM (${cfgs.map(_._2).mkString(" UNION ALL ")}) CROSS JOIN tt
       |ORDER BY bands""".stripMargin
  }

  // ---- dd_ngram_jaccard ----------------------------------------------

  /** Exact Jaccard verification over the LSH candidate pairs: the
    * verify step of the dedup pipeline. Only candidates rejoin the
    * shingle sets, so the expensive set-compare runs on a tiny
    * relation; the compare runs on the 48-bit hashed shingle sets
    * (identical sets in both engines; collision probability
    * ~|doc|²/2^48, negligible) - integer intersect, not string.
    */
  /** The Jaccard-verified edge relation, session-shared (the verify
    * output is the pipeline's landed fact: clusters, the apply faces
    * and the composed cleaner all read it). Rows carry the contract
    * order from `ngramJaccardFrom`; the checkpoint preserves it.
    */
  private[pipeline] def verifiedPairs(spark: SparkSession,
                                      sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "verified") {
      ngramJaccardFrom(candPairs(spark, sfDir),
        shingled(spark, sfDir).select(col("doc_id"), col("hs")))
    }

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    verifiedPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** The exact-verify join over any (doc_a, doc_b) candidate relation
    * and (doc_id, hs) shingle relation — shared by the batch face and
    * the incremental-store cluster faces (whose stored bands/shingles
    * union to exactly these relations once caught up).
    */
  private[graft] def ngramJaccardFrom(cand: DataFrame,
                                      sh: DataFrame): DataFrame =
    cand
      .join(sh.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("hs", "hs_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("hs", "hs_b"), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast(LongType))
      .withColumn("jaccard", ParityMath.q6(
        col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter"))
            .cast("double")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  val ngramJaccardSql: String =
    s"""WITH $shingledCteDuck, $bandsCteDuck, cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
       |), j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    (floor((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |          / CAST(len(a.hs) + len(b.hs)
       |                 - len(list_intersect(a.hs, b.hs)) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
       |      AS jaccard
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, jaccard FROM j
       |WHERE jaccard >= $jaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dd_cross_dedup ------------------------------------------------

  /** CROSS-SET near-duplicate removal — "dedup the incoming shard
    * against the kept corpus", the incremental-curation op every
    * recurring crawl runs. Within-set dedup (30a/30b) is symmetric;
    * this is the ASYMMETRIC face: corpus A is immutable (already
    * kept), only B-side documents can drop, and B×B duplicates are
    * deliberately NOT this op's business (they are the next
    * within-set pass). Sides split by the `pipe_split` discipline
    * (doc_id parity — deterministic, content-independent, so the gate
    * exercises a realistic interleaved shard). Candidates come from
    * the SAME banded minhash relation the family shares, as an A×B
    * bucket join — the self-join's `doc_id <` ordering replaced by
    * the side predicates, so no within-set pair ever reaches verify;
    * verify is the exact hashed-shingle Jaccard at the family
    * threshold; the verdict aggregates per B doc with plain
    * map-combinable aggregates: the canonical A keeper (min doc_id
    * over verified matches), the match count, and the best verified
    * Jaccard as evidence.
    *
    * 100 TB shape: with the signature store, the kept corpus's
    * bands/shingles are ALREADY-LANDED facts — only the shard
    * re-signatures; the bucket join is bounded by band-bucket sizes
    * (band index in the key), verify touches candidates only, and
    * the per-B-doc agg is map-combinable. Nothing is ever A×A.
    */
  def crossDedup(spark: SparkSession, sfDir: String): DataFrame =
    crossDedupFrom(bandsDf(spark, sfDir),
      shingled(spark, sfDir).select(col("doc_id"), col("hs")))

  private[graft] def crossDedupFrom(bands: DataFrame,
                                    sh: DataFrame): DataFrame = {
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
        col("x.doc_id") % 2 === 0 && col("y.doc_id") % 2 === 1)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    ngramJaccardFrom(cand, sh)
      .groupBy(col("doc_b"))
      .agg(min(col("doc_a")).as("keeper_a"),
        count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("best_j"))
      .orderBy(col("doc_b"))
  }

  val crossDedupSql: String =
    s"""WITH $shingledCteDuck, $bandsCteDuck, cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.h = y.h
       |   AND x.doc_id % 2 = 0 AND y.doc_id % 2 = 1
       |), j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    (floor((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |          / CAST(len(a.hs) + len(b.hs)
       |                 - len(list_intersect(a.hs, b.hs)) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
       |      AS jaccard
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b
       |)
       |SELECT doc_b, min(doc_a) AS keeper_a,
       |  CAST(count(*) AS BIGINT) AS n_matches, max(jaccard) AS best_j
       |FROM j WHERE jaccard >= $jaccardThreshold
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  // ---- dd_jaccard_prefix ---------------------------------------------

  /** Exact threshold-Jaccard self-join by PREFIX FILTERING (the
    * AllPairs / PPJoin candidate rule: Bayardo et al. WWW'07, Xiao et
    * al. WWW'08) - the zero-false-negative alternative to MinHash+LSH.
    * Shingle hashes get a global rare-first total order (document
    * frequency asc, hash asc); a doc of |s| distinct shingles exposes
    * only its first p = |s| - ceil(t*|s|) + 1 tokens in that order
    * (t = 4/5, all-integer: ceil(4s/5) = (4s+4) div 5). Any pair with
    * Jaccard >= t MUST share a token inside both prefixes, so the
    * candidate self-join keys on prefix tokens only - by construction
    * each doc's RAREST shingles, so bucket sizes are bounded by the
    * df of rare tokens, not by corpus size. Pairs also pass the length
    * filter 5*min(|a|,|b|) >= 4*max(|a|,|b|) (J >= t forces
    * min/max >= t) inside the join condition. Survivors rejoin the
    * shared shingle relation for the exact verify - identical
    * semantics and rounding to `ngramJaccard`, but EXACT: LSH recalls
    * whatever its bands catch; this finds every pair >= t.
    * Scale shape: one map-combined df agg keyed on hash, one
    * rank window keyed on doc_id (both O(total tokens)), then the
    * candidate join on rare-token buckets. No all-pairs anywhere.
    * Reference scope: streamsum has no similarity join at all; this
    * generalizes its exact-key dedup (caches.clj assoc-cache
    * last-write-wins identity) to set similarity.
    */
  /** The exact AllPairs/PPJoin truth relation, session-shared — both
    * eval faces (`dd_lsh_eval`, `dd_lsh_curve`) score against it and
    * the routed face's exact branch IS it, so one compute serves all.
    */
  private[pipeline] def jaccardTruth(spark: SparkSession,
                                     sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "jaccard-truth") {
      // candidates ride the shared ranked-token tier; verify rejoins
      // the shared shingle relation
      jaccardPrefixVerified(
        jaccardPrefixCandidatesRanked(rankedToks(spark, sfDir),
          positional = true),
        shingled(spark, sfDir).select(col("doc_id"), col("hs")))
    }

  def jaccardPrefix(spark: SparkSession, sfDir: String): DataFrame =
    jaccardTruth(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** Core of `jaccardPrefix` over any (doc_id, hs) shingle relation -
    * the incremental store face re-derives prefixes under the EVOLVED
    * global df at query time (the evolving-LM stores' philosophy:
    * history is tokenized once, ranked under today's model).
    */
  def jaccardPrefixFrom(sh0: DataFrame): DataFrame =
    jaccardPrefixFrom(sh0, positional = true)

  /** Candidate pairs only (pre-verify) - `positional = false` drops the
    * PPJoin positional filter so its pruning power is measurable; both
    * settings admit every true pair (the positional bound over-counts
    * overlap, never under-counts - see the join condition comment).
    */
  /** The rare-first prefix relation (doc_id, h, sz, rk, p_probe) the
    * candidate join keys on - exposed for phase profiling.
    *
    * ASYMMETRIC prefixes (AllPairs, Bayardo et al. WWW'07): order each
    * pair by (size, doc_id); for J >= t the overlap is
    * alpha = ceil(t/(1+t)(|x|+|y|)), and bounding alpha per side via
    * the size order gives each side its own prefix:
    *   smaller side x (|y| >= |x|): alpha >= ceil(2t/(1+t)|x|)
    *       = ceil(8|x|/9)  -> probe prefix |x| - ceil(8|x|/9) + 1,
    *   larger side y (|x| >= t|y|): alpha >= ceil(t|y|)
    *       = ceil(4|y|/5)  -> index prefix |y| - ceil(4|y|/5) + 1.
    * Prefixes only shrink as alpha grows, so a token shared inside
    * the TRUE-alpha prefixes is shared inside these - zero false
    * negatives (brute-force equality spec), with the probe side
    * exposing ~|x|/9 tokens instead of ~|x|/5: the candidate fan of a
    * rare-but-repeated prefix token drops by nearly half.
    */
  private[graft] def prefixRelationFor(sh0: DataFrame): DataFrame =
    prefixFromRanked(rankedToksFrom(sh0))

  /** The rare-first RANKED token relation (doc_id, h, sz, rk) every
    * prefix-filter face derives: one explode + one df agg + one
    * doc-keyed rank window over the total token stream. Shared
    * builder for the session tier below and the store faces'
    * evolved-df re-derivations.
    */
  private[graft] def rankedToksFrom(sh0: DataFrame): DataFrame = {
    val sh = sh0.select(col("doc_id"), col("hs"))
    val ex = sh.select(col("doc_id"),
      size(col("hs")).cast(LongType).as("sz"), explode(col("hs")).as("h"))
    val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
    ex.join(dfreq, "h")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .select(col("doc_id"), col("h"), col("sz"),
        col("rk").cast(LongType).as("rk"))
  }

  /** Session-shared materialized ranked-token tier: FOUR faces per
    * pass used to re-pay the O(total tokens) explode + df agg + rank
    * window (the jaccard truth build, dd_containment's probe/index,
    * dd_jaccard_routed's route fee, dd_route_stats' readout); now the
    * first one pays it once per (session, corpus).
    */
  private[graft] def rankedToks(spark: SparkSession,
                                sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "rank-toks")(
      rankedToksFrom(shingled(spark, sfDir)))

  /** The asymmetric-prefix projection (AllPairs probe/index cutoffs)
    * over any ranked-token relation.
    */
  private[graft] def prefixFromRanked(ranked: DataFrame): DataFrame =
    ranked
      .filter(col("rk") <= col("sz") - expr("(4 * sz + 4) div 5") + lit(1L))
      .select(col("doc_id"), col("h"), col("sz"), col("rk"),
        (col("sz") - expr("(8 * sz + 8) div 9") + lit(1L)).as("p_probe"))

  private[graft] def jaccardPrefixCandidates(
      sh0: DataFrame, positional: Boolean): DataFrame =
    jaccardPrefixCandidatesRanked(rankedToksFrom(sh0), positional)

  private[graft] def jaccardPrefixCandidatesRanked(
      ranked: DataFrame, positional: Boolean): DataFrame = {
    val prefix = prefixFromRanked(ranked)
    // PPJoin positional filter (Xiao et al. WWW'08): a shared token at
    // rare-first ranks (i, j) bounds the overlap by
    //   min(i, j) - 1  (shared tokens BEFORE this one in the global
    //                   order - at most that many on each side)
    // + 1              (this token)
    // + min(sza - i, szb - j)   (tokens after it on each side),
    // and J >= 4/5 forces overlap >= ceil(4(sza+szb)/9). The bound
    // >= the true overlap for EVERY shared token, so requiring it on
    // the join key loses no qualifying pair while pruning the
    // length-filter-admitted pairs whose match sits too deep in either
    // prefix - the candidate-volume cap that keeps rare-but-frequent
    // prefix tokens from quadratic fan at corpus scale.
    val positionalOk =
      least(col("x.rk"), col("y.rk")) +
        least(col("x.sz") - col("x.rk"), col("y.sz") - col("y.rk")) >=
        expr("(4 * (x.sz + y.sz) + 8) div 9")
    // x is the (size, doc_id)-smaller side and uses its probe prefix;
    // y indexes its full t-prefix
    val sizeOrdered =
      (col("x.sz") < col("y.sz")) ||
        (col("x.sz") === col("y.sz") && col("x.doc_id") < col("y.doc_id"))
    val matched = prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && sizeOrdered &&
        col("x.rk") <= col("x.p_probe") &&
        lit(5L) * col("x.sz") >= lit(4L) * col("y.sz") &&
        (if (positional) positionalOk else lit(true)))
    if (!positional)
      return matched
        .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
        .distinct()
    // Accumulated-overlap filter (the PPJoin refinement of the
    // per-token positional bound): the pair-dedup shuffle has ALL of a
    // pair's shared prefix tokens in hand anyway, so instead of
    // DISTINCT, count them. Ranks are positions in one GLOBAL rare-
    // first order restricted to each doc, so shared tokens are rank-
    // co-monotone across the two docs: every shared token ordered
    // before the LAST prefix match (max rk_x ≙ max rk_y, same token)
    // lies inside both joined prefixes and is therefore counted in c,
    // and at most min(sz_x − max rk_x, sz_y − max rk_y) shared tokens
    // can follow it. Hence overlap ≤ c + that tail bound — and J ≥ 4/5
    // forces overlap ≥ ceil(4(sz_x+sz_y)/9). Zero false negatives: for
    // a TRUE pair every shared token passes the per-token positional
    // filter (its bound ≥ the real overlap ≥ alpha), so c/max-ranks
    // are computed over the complete match set and the inequality is a
    // genuine upper bound. Non-qualifying pairs whose matches sit deep
    // or sparse in the prefixes are pruned BEFORE the verify join ever
    // fetches their full shingle sets. Same shuffle as the old
    // DISTINCT (keyed on the pair), one tiny agg on top.
    matched
      .select(col("x.doc_id").as("dx"), col("y.doc_id").as("dy"),
        col("x.rk").as("rk_x"), col("y.rk").as("rk_y"),
        col("x.sz").as("sz_x"), col("y.sz").as("sz_y"))
      .groupBy(col("dx"), col("dy"))
      .agg(count(lit(1)).as("c"),
        max(col("rk_x")).as("ix"), max(col("rk_y")).as("jy"),
        first(col("sz_x")).as("szx"), first(col("sz_y")).as("szy"))
      .filter(col("c") +
        least(col("szx") - col("ix"), col("szy") - col("jy")) >=
        expr("(4 * (szx + szy) + 8) div 9"))
      .select(least(col("dx"), col("dy")).as("doc_a"),
        greatest(col("dx"), col("dy")).as("doc_b"))
  }

  private def jaccardPrefixFrom(sh0: DataFrame,
                                positional: Boolean): DataFrame =
    jaccardPrefixVerified(jaccardPrefixCandidates(sh0, positional),
      sh0.select(col("doc_id"), col("hs")))

  /** The exact verify tail over any candidate set + shingle relation. */
  private def jaccardPrefixVerified(cand: DataFrame,
                                    sh: DataFrame): DataFrame = {
    cand
      .join(sh.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("hs", "hs_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("hs", "hs_b"), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast(LongType))
      .withColumn("jaccard", ParityMath.q6(
        col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter"))
            .cast("double")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val jaccardPrefixSql: String =
    s"""WITH $shingledCteDuck, ex AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS sz, unnest(hs) AS h
       |  FROM hs
       |), f AS (
       |  SELECT h, count(*) AS df FROM ex GROUP BY h
       |), r AS (
       |  SELECT e.doc_id, e.h, e.sz,
       |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS rk
       |  FROM ex e JOIN f ON f.h = e.h
       |), p AS (
       |  SELECT doc_id, h, sz FROM r WHERE rk <= sz - ((4 * sz + 4) // 5) + 1
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM p x JOIN p y ON x.h = y.h AND x.doc_id < y.doc_id
       |    AND 5 * least(x.sz, y.sz) >= 4 * greatest(x.sz, y.sz)
       |), j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    (floor((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |          / CAST(len(a.hs) + len(b.hs)
       |                 - len(list_intersect(a.hs, b.hs)) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
       |      AS jaccard
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, jaccard FROM j
       |WHERE jaccard >= $jaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dd_jaccard_routed -----------------------------------------------

  /** Routing budget: candidate pairs per document the exact route is
    * allowed before the router hands the corpus to LSH. Why a VOLUME
    * statistic and not top-df skew: the r10 phase profile proved the
    * exact prefix join quadratic exactly when prefix tokens stop being
    * rare, but that is an AGGREGATE property - measured on the
    * fixed-vocab bench corpus the top shingle's df/n is only 0.02
    * (nothing is individually hot) while the pre-filter candidate
    * volume per doc grows 0.05 → 4.8 → quadratic across 300 → 2000 →
    * 50k docs; the Heaps-law control corpus sits flat at 0.24 at every
    * size and the sf0.01 gate corpus at 0.50. The volume IS the cost
    * being routed around, so the router prices it directly.
    */
  val candBudgetPerDoc = 4L

  /** The route decision: the exact pre-filter candidate volume
    * Σ_h C(cnt_h, 2) over the prefix relation's token buckets - one
    * map-combined agg on top of the prefix relation the exact route
    * needs anyway (the LSH route pays that O(total tokens) relation as
    * its routing fee; no join runs to make the decision). All-integer
    * predicate (c·(c−1) is even, so the per-term DIV 2 is exact), so
    * the DuckDB replay can never disagree on a boundary corpus.
    */
  private[graft] def lshRouteFor(sh: DataFrame): Boolean =
    lshRouteFor(sh, prefixRelationFor(sh))

  private[graft] def lshRouteFor(sh: DataFrame,
                                 prefix: DataFrame): Boolean = {
    val volRow = prefix
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) DIV 2"))).head
    val vol = if (volRow.isNullAt(0)) 0L else volRow.getLong(0)
    vol > candBudgetPerDoc * sh.count()
  }

  /** ROUTED threshold-Jaccard dedup: the candidate-volume statistic
    * picks the plan - exact prefix join (zero false negatives) on
    * natural-entropy corpora, MinHash-LSH candidates + exact verify on
    * templated/boilerplate-heavy ones where the exact join's candidate
    * volume is proven quadratic (data-inherent, PLANS.md r10 control
    * experiment). Both routes share the verify semantics and rounding;
    * the oracle replays the identical integer route predicate, so the
    * gate exercises whichever branch the corpus actually takes.
    */
  def jaccardRouted(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingled(spark, sfDir).select(col("doc_id"), col("hs"))
    // both branches are session-shared tiers now, and the route fee's
    // volume statistic folds over the shared ranked-token tier - the
    // route never re-derives a relation some earlier face landed
    if (lshRouteFor(sh, prefixFromRanked(rankedToks(spark, sfDir))))
      ngramJaccard(spark, sfDir)
    else jaccardPrefix(spark, sfDir)
  }

  /** The router's decision made OBSERVABLE: one row with the measured
    * candidate volume, the corpus size, the budget, and the route the
    * engine will take - what a pipeline owner reads before a 100 TB
    * dedup run (and what a regression gate watches: a corpus drifting
    * toward boilerplate flips this row before it burns a cluster).
    * Same statistic, same integer predicate as `jaccardRouted`.
    */
  def routeStats(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingled(spark, sfDir).select(col("doc_id"), col("hs"))
    val vol = prefixFromRanked(rankedToks(spark, sfDir))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L))
        .as("cand_volume"))
    vol.crossJoin(sh.agg(count(lit(1)).as("n_docs")))
      .select(col("cand_volume"), col("n_docs"),
        lit(candBudgetPerDoc).as("budget_per_doc"),
        when(col("cand_volume") > lit(candBudgetPerDoc) * col("n_docs"),
          "lsh").otherwise("exact").as("route"))
  }

  val routeStatsSql: String =
    s"""WITH $shingledCteDuck, ex AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS sz, unnest(hs) AS h
       |  FROM hs
       |), f AS (
       |  SELECT h, count(*) AS df FROM ex GROUP BY h
       |), r AS (
       |  SELECT e.doc_id, e.h, e.sz,
       |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS rk
       |  FROM ex e JOIN f ON f.h = e.h
       |), p AS (
       |  SELECT doc_id, h, sz FROM r WHERE rk <= sz - ((4 * sz + 4) // 5) + 1
       |), stat AS (
       |  SELECT CAST((SELECT COALESCE(SUM(c * (c - 1) // 2), 0) FROM (
       |            SELECT count(*) AS c FROM p GROUP BY h
       |          ) pc) AS BIGINT) AS cand_volume,
       |         (SELECT CAST(count(*) AS BIGINT) FROM hs) AS n_docs
       |)
       |SELECT cand_volume, n_docs,
       |  CAST($candBudgetPerDoc AS BIGINT) AS budget_per_doc,
       |  CASE WHEN cand_volume > $candBudgetPerDoc * n_docs
       |       THEN 'lsh' ELSE 'exact' END AS route
       |FROM stat""".stripMargin

  val jaccardRoutedSql: String =
    s"""WITH $shingledCteDuck, $bandsCteDuck, ex AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS sz, unnest(hs) AS h
       |  FROM hs
       |), f AS (
       |  SELECT h, count(*) AS df FROM ex GROUP BY h
       |), r AS (
       |  SELECT e.doc_id, e.h, e.sz,
       |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS rk
       |  FROM ex e JOIN f ON f.h = e.h
       |), p AS (
       |  SELECT doc_id, h, sz FROM r WHERE rk <= sz - ((4 * sz + 4) // 5) + 1
       |), stat AS (
       |  SELECT (SELECT COALESCE(SUM(c * (c - 1) // 2), 0) FROM (
       |            SELECT count(*) AS c FROM p GROUP BY h
       |          ) pc) AS vol,
       |         (SELECT CAST(count(*) AS BIGINT) FROM hs) AS n
       |), cand_e AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM p x JOIN p y ON x.h = y.h AND x.doc_id < y.doc_id
       |    AND 5 * least(x.sz, y.sz) >= 4 * greatest(x.sz, y.sz)
       |), cand_l AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
       |), cand AS (
       |  SELECT doc_a, doc_b FROM cand_l
       |  WHERE (SELECT vol > $candBudgetPerDoc * n FROM stat)
       |  UNION ALL
       |  SELECT doc_a, doc_b FROM cand_e
       |  WHERE (SELECT vol <= $candBudgetPerDoc * n FROM stat)
       |), j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    (floor((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |          / CAST(len(a.hs) + len(b.hs)
       |                 - len(list_intersect(a.hs, b.hs)) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
       |      AS jaccard
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, jaccard FROM j
       |WHERE jaccard >= $jaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dd_containment ------------------------------------------------

  /** Containment threshold (9/10): C(a,b) = |a∩b| / |a|. */
  val containmentNum = 9
  val containmentDen = 10

  /** Asymmetric CONTAINMENT detection: doc_a's shingle set is >= 90%
    * inside doc_b's (C(a,b) = |a∩b|/|a| >= 9/10, a != b) - the
    * quote / partial-copy / subset-document signal Jaccard misses when
    * |b| >> |a| (a page embedded in a long crawl dump has tiny Jaccard
    * but containment ~1). LSH misses these for the same reason: the
    * minhash signature of b is dominated by its non-a content.
    * Candidate rule: C(a,b) >= tau forces overlap >= ceil(tau*|a|), so
    * the PROBE side exposes a's prefix of |a| - ceil(9|a|/10) + 1
    * rare-first tokens (same global order as `jaccardPrefix`), while
    * the INDEX side keys every token of b (asymmetric joins get no
    * index-side prefix). Length filter 10*|b| >= 9*|a| (overlap <= |b|)
    * rides the join condition. Scale shape: the index side is the same
    * O(total tokens) exploded relation the df agg already scans, keyed
    * on the shingle hash; probe buckets are each doc's rarest tokens,
    * so the join's per-key match fan is df(rare token) - bounded. The
    * verify rejoins the shared shingle relation on the candidate set
    * only.
    */
  def containment(spark: SparkSession, sfDir: String): DataFrame =
    containmentFromRanked(rankedToks(spark, sfDir),
      shingled(spark, sfDir).select(col("doc_id"), col("hs")))

  /** Core of `containment` over any (doc_id, hs) shingle relation. */
  def containmentFrom(sh0: DataFrame): DataFrame = {
    val sh = sh0.select(col("doc_id"), col("hs"))
    containmentFromRanked(rankedToksFrom(sh0), sh)
  }

  private def containmentFromRanked(ranked: DataFrame,
                                    sh: DataFrame): DataFrame = {
    // probe = each doc's containment prefix; index = every token of
    // every doc — both projections of the one ranked-token relation
    // (the session tier for the batch face)
    val probe = ranked
      .filter(col("rk") <=
        col("sz") - expr(s"($containmentNum * sz + ${containmentDen - 1}) div $containmentDen") + lit(1L))
      .select(col("doc_id"), col("h"), col("sz"))
    val index = ranked.select(col("doc_id"), col("sz"), col("h"))
    val cand = probe.as("x").join(index.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") =!= col("y.doc_id") &&
        lit(containmentDen.toLong) * col("y.sz") >=
          lit(containmentNum.toLong) * col("x.sz"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    containmentVerify(cand, sh)
  }

  /** Exact containment verify over any candidate (doc_a, doc_b)
    * relation: order-independent, so EVERY candidate generator that is
    * a superset of the true pairs (batch prefix probe, streaming
    * shared-token admission) converges to the identical final result.
    */
  private[graft] def containmentVerify(cand: DataFrame,
                                       sh: DataFrame): DataFrame =
    cand
      .join(sh.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("hs", "hs_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("hs", "hs_b"), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast(LongType))
      .withColumn("containment", ParityMath.q6(
        col("inter").cast("double") / size(col("hs_a")).cast("double")))
      .filter(col("containment") * lit(containmentDen.toDouble) >=
        lit(containmentNum.toDouble))
      .select(col("doc_a"), col("doc_b"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))

  val containmentSql: String =
    s"""WITH $shingledCteDuck, ex AS (
       |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS sz, unnest(hs) AS h
       |  FROM hs
       |), f AS (
       |  SELECT h, count(*) AS df FROM ex GROUP BY h
       |), r AS (
       |  SELECT e.doc_id, e.h, e.sz,
       |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS rk
       |  FROM ex e JOIN f ON f.h = e.h
       |), p AS (
       |  SELECT doc_id, h, sz FROM r
       |  WHERE rk <= sz - (($containmentNum * sz + ${containmentDen - 1}) // $containmentDen) + 1
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM p x JOIN ex y ON x.h = y.h AND x.doc_id <> y.doc_id
       |    AND $containmentDen * y.sz >= $containmentNum * x.sz
       |), j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    (floor((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |          / CAST(len(a.hs) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
       |      AS containment
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, containment FROM j
       |WHERE containment * $containmentDen >= $containmentNum
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- dd_clusters ---------------------------------------------------

  /** Resolve verified duplicate pairs into clusters: connected
    * components by iterative min-label propagation (labels converge in
    * O(component diameter) rounds - dup clusters are shallow, so 2-3
    * rounds in practice; each round is one keyed shuffle). Output: one
    * row per clustered doc with its cluster id (the component's min
    * doc_id) and the keep-this-one canonical flag - the step that
    * turns near-dup PAIRS into an actionable keep/drop decision.
    * The driver-side loop is the one legitimately iterative pattern
    * here (bounded by graph diameter, not data size); each iteration's
    * result is materialized so lineage stays flat.
    */
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame =
    // session-shared (tierRaw: resolveComponents already checkpoints):
    // the three cluster consumers (stats histogram, apply anti-join,
    // keep-best pick) each re-ran the LSH join + verify + concomp
    // fixpoint before this tier existed
    SignatureStore.tierRaw(spark, sfDir, "clusters") {
      val edges = verifiedPairs(spark, sfDir)
        .select(col("doc_a"), col("doc_b"))
      resolveComponents(spark, edges)._1
    }

  /** Connected components of a (doc_a, doc_b) edge relation. Each
    * round is min-label propagation over the edges PLUS a path-halving
    * step (lbl <- lbl(lbl), the pointer-jumping half of union-find):
    * propagation alone needs O(component diameter) rounds, and
    * chain-shaped components - exactly what templated boilerplate
    * produces, A~B~C~... with no A~C edge - make diameter O(n). The
    * jump step doubles the distance a label travels per round, so the
    * loop converges in O(log diameter) rounds for one extra
    * (small, labels-only) self-join per round. Returns the projected
    * cluster relation plus the round count (spec hook).
    */
  private[graft] def resolveComponents(spark: SparkSession,
                                       edges: DataFrame): (DataFrame, Int) = {
    val sym = edges.unionAll(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist()
    var labels = sym.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
      .persist()
    // labels becomes a PROJECTION of each round's persisted relation;
    // unpersist must target the handle that was actually cached
    var cached = labels
    // Labels only ever shrink and are bounded below by the component
    // min, so the loop reaches a fixpoint; at fixpoint the propagation
    // step changed nothing, which forces lbl constant per component
    // (= the min id). The cap is a runaway backstop only - hitting it
    // is a bug, and silently returning unconverged labels would emit
    // wrong cluster ids, so it THROWS instead.
    val maxRounds = 1000
    var changed = 1L
    var rounds = 0
    // FRONTIER propagation: only nodes whose label changed last round
    // need to re-send. Labels only ever decrease, so if lbl(u) is
    // unchanged since the round that last propagated it, every
    // neighbor v already took min with that exact value and v's label
    // has only decreased since - an unchanged sender cannot improve
    // any receiver. Round 1's frontier is everything (nothing has
    // propagated yet); afterwards it is the post-jump changed set,
    // which SHRINKS as components converge - at 100 TB the difference
    // between re-shuffling the whole label relation every round and
    // touching only the active wavefront.
    var frontier = labels
    while (changed > 0) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"dupClusters: no fixpoint after $maxRounds rounds - " +
            "propagation must strictly shrink labels; this is a bug")
      val prop = frontier.join(sym, col("doc_id") === col("doc_a"))
        .groupBy(col("doc_b")).agg(min(col("lbl")).as("nlbl"))
        .select(col("doc_b").as("doc_id"), col("nlbl"))
      // carry the previous label through, so the convergence check is
      // one scan of the freshly-persisted relation instead of a
      // round-trip join against the previous iteration
      val next = labels.as("l")
        .join(prop.as("p"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("l.lbl"), coalesce(col("p.nlbl"), col("l.lbl")))
            .as("lbl"),
          col("l.lbl").as("prev"))
        .persist()
      // path halving: every label value is itself a doc_id in this
      // relation (labels start as own ids and only ever adopt another
      // node's id), so lbl(lbl(x)) is a lookup join against the same
      // round's relation; lbl(y) <= y makes least() pure safety.
      // The LOOKUP side is FRONTIER-RESTRICTED to this round's
      // post-propagation changes, which drops the full-relation
      // self-join (the last O(V)-per-round shuffle in this fixpoint).
      // The restriction gives up the jump's O(log d) round bound: a
      // target whose label improved only by jumping never enters a
      // later round's lookup side, so the nodes pointing at it
      // converge by propagation alone, one hop per round, within
      // `maxRounds`. Soundness is unconditional - the jump is a pure
      // accelerator (least() with values already in the relation,
      // monotone decreasing), and the propagation step alone covers
      // every edge, so any improvement a restricted jump misses is
      // delivered by propagation in a later round and the exit
      // condition (a full round with zero changes) is unaffected.
      // The shrinking lookup side lets AQE plan the join as a
      // broadcast once the wavefront is small: the full relation is
      // then scanned narrowly, never shuffled.
      val jumped = next.as("x")
        .join(next.filter(col("lbl") < col("prev"))
          .select(col("doc_id").as("jd"), col("lbl").as("jl"))
          .as("j"), col("x.lbl") === col("j.jd"), "left")
        .select(col("x.doc_id").as("doc_id"),
          least(col("x.lbl"), coalesce(col("j.jl"), col("x.lbl")))
            .as("lbl"),
          col("x.prev").as("prev"))
        .persist()
      changed = jumped.filter(col("lbl") < col("prev")).count()
      next.unpersist()
      cached.unpersist()
      cached = jumped
      // rebase the next round on a LogicalRDD leaf over the persisted
      // rows: the round's plan references `labels` three times (prop +
      // both sides of the jump), so carrying the logical lineage
      // forward doubles the plan tree per round - within a few dozen
      // rounds the EXPLAIN string alone OOMs long before execution does.
      // InternalRow end to end; reads come from the cached relation.
      val rebased = org.apache.spark.sql.GraftBridge.ofInternalRows(
        spark, jumped.queryExecution.toRdd, jumped.schema)
      labels = rebased.select(col("doc_id"), col("lbl"))
      // next round's senders: exactly the rows the convergence count
      // just measured (post-jump label below the pre-round one) -
      // derived lazily off the same persisted rows, one block re-read
      frontier = rebased.filter(col("lbl") < col("prev"))
        .select(col("doc_id"), col("lbl"))
    }
    // materialize the (small: clustered docs only) result while the
    // label chain is still cached, then release every intermediate -
    // nothing from the iteration outlives the call. With a reliable
    // checkpoint dir configured (cluster deployments: HDFS/object
    // store) the result is cut from its lineage DURABLY, so executor
    // loss after this call - routine at 100 TB - cannot orphan it; the
    // localCheckpoint fallback (blocks unreplicated on executors) is
    // only acceptable in single-process runs, where executor loss is
    // process death anyway.
    val projected = labels
      .select(col("doc_id"), col("lbl").as("cluster_id"),
        (col("doc_id") === col("lbl")).as("is_canonical"))
      .orderBy(col("doc_id"))
    val out =
      if (spark.sparkContext.getCheckpointDir.isDefined)
        projected.checkpoint(true)
      else projected.localCheckpoint(true)
    cached.unpersist()
    sym.unpersist()
    (out, rounds)
  }

  /** The full cluster-resolution CTE chain (shingles -> bands -> LSH
    * candidates -> Jaccard-verified edges -> transitive closure ->
    * `clusters(doc_id, cluster_id, is_canonical)`), shared by the
    * dd_clusters oracle and the pipe_dedup_apply oracle so both faces
    * are checked against literally the same clustering definition.
    */
  private[pipeline] val clustersCteDuck: String =
    s"""$shingledCteDuck, $bandsCteDuck, cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
       |), verified AS (
       |  SELECT c.doc_a, c.doc_b FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b
       |  WHERE (floor((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / CAST(len(a.hs) + len(b.hs)
       |               - len(list_intersect(a.hs, b.hs)) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
       |        >= $jaccardThreshold
       |), sym AS (
       |  SELECT doc_a, doc_b FROM verified
       |  UNION ALL SELECT doc_b, doc_a FROM verified
       |), reach AS (
       |  SELECT doc_a AS a, doc_b AS b FROM sym
       |  UNION
       |  SELECT r.a, e.doc_b FROM reach r JOIN sym e ON e.doc_a = r.b
       |), clusters AS (
       |  SELECT n.doc_id, CAST(least(n.doc_id, min(r.b)) AS BIGINT)
       |           AS cluster_id,
       |         (n.doc_id = least(n.doc_id, min(r.b))) AS is_canonical
       |  FROM (SELECT DISTINCT doc_a AS doc_id FROM sym) n
       |  LEFT JOIN reach r ON r.a = n.doc_id
       |  GROUP BY n.doc_id
       |)""".stripMargin

  val dupClustersSql: String =
    s"""WITH RECURSIVE $clustersCteDuck
       |SELECT doc_id, cluster_id, is_canonical FROM clusters
       |ORDER BY doc_id""".stripMargin

  // ---- dd_cluster_stats ------------------------------------------------

  /** CLUSTER-SIZE HISTOGRAM of the verified near-dup clusters — the
    * dataset-card view of the dedup family's end product (q_lorenz
    * asks who concentrates activity; this asks how duplication
    * concentrates: many pairs, or a few giant boilerplate blobs?):
    * per cluster size, how many clusters, how many docs they hold,
    * how many a keep-canonical policy removes, and that removal as a
    * share of the WHOLE corpus (exact counts, one pinned q6 division
    * per row). The histogram a pipeline owner reads before choosing
    * between pair-level scrubbing and cluster-level dropping.
    *
    * 100 TB shape: everything on the clusters-sized relation (tiny
    * next to the corpus) + one 1-row corpus count broadcast.
    */
  def clusterStats(spark: SparkSession, sfDir: String): DataFrame =
    clusterStatsFrom(dupClusters(spark, sfDir),
      Graft.table(spark, sfDir, "documents")
        .agg(count(lit(1)).as("n_corpus")))

  /** The histogram fold over any cluster relation plus a 1-row corpus
    * count — shared by the batch face and the incremental-store face.
    */
  private[graft] def clusterStatsFrom(clusters: DataFrame,
                                      nDocs: DataFrame): DataFrame = {
    val sizes = clusters
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
    sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs_in"),
        ((col("cluster_size") - 1) * col("n_clusters"))
          .as("n_removable"))
      .crossJoin(broadcast(nDocs))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs_in"),
        col("n_removable"),
        when(col("n_corpus") > 0, ParityMath.q6(
          col("n_removable").cast("double") /
            col("n_corpus").cast("double"))).as("removable_share"))
      .orderBy(col("cluster_size"))
  }

  val clusterStatsSql: String =
    s"""WITH RECURSIVE $clustersCteDuck,
       |sizes AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
       |  FROM clusters GROUP BY 1
       |), hist AS (
       |  SELECT sz AS cluster_size,
       |         CAST(count(*) AS BIGINT) AS n_clusters
       |  FROM sizes GROUP BY 1
       |), nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus
       |          FROM documents)
       |SELECT cluster_size, n_clusters,
       |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs_in,
       |  CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removable,
       |  CASE WHEN n_corpus > 0 THEN ${ParityMath.q6Sql(
            """CAST((cluster_size - 1) * n_clusters AS DOUBLE)
              |/ CAST(n_corpus AS DOUBLE)""".stripMargin)}
       |  END AS removable_share
       |FROM hist CROSS JOIN nc ORDER BY cluster_size""".stripMargin

  // ---- pipe_dedup_apply ----------------------------------------------

  /** The end product of the dedup family: the corpus with near-dup
    * non-canonical documents REMOVED (keep the min doc_id of each
    * verified cluster). One anti-join of the corpus against the
    * (clusters-only, so small relative to the corpus) drop list -
    * AQE picks a broadcast build side when the list fits, a keyed
    * shuffle otherwise; neither re-reads or re-hashes `text`, since
    * clustering comes from the session-shared SignatureStore pass.
    */
  def dedupApply(spark: SparkSession, sfDir: String): DataFrame = {
    val drop = dupClusters(spark, sfDir)
      .filter(!col("is_canonical"))
      .select(col("doc_id"))
    Graft.table(spark, sfDir, "documents")
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val dedupApplySql: String =
    s"""WITH RECURSIVE $clustersCteDuck
       |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN
       |  (SELECT doc_id FROM clusters WHERE NOT is_canonical)
       |ORDER BY d.doc_id""".stripMargin

  // ---- pipe_dedup_keep_best --------------------------------------------

  /** Near-dup removal keeping the BEST copy, not the first: real
    * pipelines don't keep the minimum doc_id of a duplicate cluster —
    * they keep the highest-quality member (the crawl that got the
    * clean extraction, not the one that happened to arrive first).
    * Per verified cluster the keeper is the member with the LOWEST
    * corpus-own add-1 unigram NLL (the sourceCap/token-budget quality
    * key — its q6-quantized double is bit-identical cross-engine, so
    * it is a safe ordering key), ties by doc_id; everything else in
    * the cluster is dropped via one anti-join. `pipe_dedup_apply`
    * stays as the cheap id-canonical variant (no quality pass); this
    * face is what a curation run actually ships.
    *
    * 100 TB shape: clustering and the NLL relation are both
    * session-shared passes the suite already pays; the keeper pick
    * runs on the CLUSTERS-sized relation (min of a (nll, doc_id)
    * struct per cluster — map-combinable, no window), and the apply
    * is the same anti-join AQE broadcasts when the drop list fits.
    */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame =
    dedupKeepBestFrom(
      dupClusters(spark, sfDir),
      TextAnalysis.unigramNll(spark, sfDir),
      Graft.table(spark, sfDir, "documents"))

  /** The keeper pick + apply over any (doc_id, cluster_id) cluster
    * relation, (doc_id, nll) quality relation and corpus — shared by
    * the batch face and the incremental-store face (whose clusters
    * and NLL re-derive from the evolving stores at query time, so
    * verdicts re-evaluate under the FINAL state = this batch logic).
    */
  private[graft] def dedupKeepBestFrom(clusters: DataFrame,
                                       nll0: DataFrame,
                                       documents: DataFrame): DataFrame = {
    val cl = clusters.select(col("doc_id"), col("cluster_id"))
    val nll = nll0.select(col("doc_id"), col("nll"))
    val scored = cl.join(nll, Seq("doc_id")).localCheckpoint()
    val keep = scored
      .groupBy(col("cluster_id"))
      .agg(min(struct(col("nll"), col("doc_id"))).as("best"))
      .select(col("cluster_id"), col("best.doc_id").as("keep_id"))
    val drop = scored.join(keep, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    documents
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE $clustersCteDuck,
       |toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), freq AS (
       |  SELECT term, count(*) AS cnt FROM toks GROUP BY term
       |), totals AS (
       |  SELECT sum(cnt) AS n_total, count(*) AS v_size FROM freq
       |), sc AS (
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
       |  FROM sc GROUP BY doc_id
       |), ranked AS (
       |  SELECT c.doc_id, c.cluster_id,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY n.nll, c.doc_id) AS rn
       |  FROM clusters c JOIN nll n USING (doc_id)
       |)
       |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
       |ORDER BY d.doc_id""".stripMargin

  // ---- dd_simhash ----------------------------------------------------

  /** 48-bit SimHash near-dup pairs. Token-frequency-weighted bit
    * majority per document (narrow), then the standard chunk-blocking:
    * two docs within Hamming distance d must share at least one of the
    * `simhashChunks` = 7 chunks exactly — the pigeonhole guarantee
    * covers the family's own threshold d <= 6. Shuffle keyed on
    * (chunk_idx, chunk_value). The token-hash array comes from the
    * session-shared SignatureStore relation - the same tokenize+hash
    * pass that already feeds minhash/LSH/Jaccard, not a second
    * full-corpus scan of `text`.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsTier(spark, sfDir)

  /** The (doc_id, sim) SimHash signature PLAN (un-materialized) — the
    * stable logical plan that keys the route memo across tier rebuilds.
    */
  private def simhashSimsPlan(spark: SparkSession,
                              sfDir: String): DataFrame =
    SignatureStore.shingles(spark, sfDir)
      .select(col("doc_id"), expr("graft_simhash48(hst)").as("sim"))

  /** Session-shared materialized signature tier: the simhash relation
    * is computed once per (session, corpus) and read by the pair
    * join, the route pricing, and the eval face's exact truth —
    * the SignatureStore tier discipline applied to the one dedup
    * family that didn't have it (dd_simhash / dd_simhash_route /
    * dd_simhash_eval each re-ran graft_simhash48 over the corpus).
    */
  private[graft] def simhashSims(spark: SparkSession,
                                 sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "simhash-sims")(
      simhashSimsPlan(spark, sfDir))

  /** Session-shared blocked pair relation: dd_simhash emits it and
    * dd_simhash_eval's candidate side reads the same materialization.
    */
  private[graft] def simhashPairsTier(spark: SparkSession,
                                      sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "simhash-pairs")(
      simhashPairsFromMat(simhashSimsPlan(spark, sfDir),
        simhashSims(spark, sfDir)))

  /** Physical blocking scheme, `graft.dedup.simhashScheme` (a pure
    * PLAN choice — all schemes emit the identical pair relation,
    * all with the full d ≤ 6 pigeonhole guarantee, so the oracle is
    * one semantic spec for any of them):
    *
    *  - `routed` (DEFAULT): price BOTH physical schemes' exact
    *    candidate volumes from the bucket-count relations (tiny:
    *    ≤ 7·2⁷ + 4·2¹² rows regardless of corpus size) and take the
    *    cheaper plan — `simhashFlipRouteFor` below, the
    *    `dd_jaccard_routed` precedent. flip1's ~4.3× smaller n²
    *    term buys nothing until the join volume outgrows its
    *    52-vs-7-rows-per-doc fixed explode cost (the measured dead
    *    band and the decisive 10×-anchor flip1 wins are documented
    *    at `simhashFlipBudgetPerDoc`); the router takes chunk7's
    *    smaller footprint in the dead band and flip1 once the
    *    volume gap is real.
    *  - `flip1`: 4×12-bit chunks with SINGLE-FLIP enumeration on
    *    the probe side — d ≤ 6 errors over 4 chunks leave some chunk
    *    with ≤ ⌊6/4⌋ = 1 error, so the index side's exact chunk
    *    value is inside the probe's 13-value enumeration (value + 12
    *    one-bit flips). Candidate volume ∝ 4·13·n²/2¹² ≈ n²/79 —
    *    ~4.3× below chunk7's 7·n²/2⁷ ≈ n²/18 (the multi-index
    *    one-deletion idea of Manku et al.'s simhash dedup applied at
    *    the bit level).
    *  - `chunk7`: the plain 7-chunk pigeonhole (6×7+1×6 bits), with
    *    `graft.dedup.simhashChunks` still trading recall floor for
    *    volume below 7.
    */
  def simhashSchemeOf(spark: SparkSession): String =
    spark.conf.getOption("graft.dedup.simhashScheme") match {
      case None => "routed"
      case Some(s @ ("routed" | "flip1" | "chunk7")) => s
      case Some(other) => throw new IllegalArgumentException(
        s"graft.dedup.simhashScheme must be 'routed', 'flip1' or " +
          s"'chunk7', got '$other'")
    }

  /** The scheme router's budget: the flip1 plan's extra FIXED cost
    * per document relative to chunk7, denominated in candidate
    * pairs — flip1 explodes 52 probe + 4 index rows per doc where
    * chunk7 explodes 7, so its ~4.3× smaller n² join term must repay
    * that before it wins. Pinned from the r15 `SimhashRouteProbe`
    * (4 runs, min wall, text + image corpora at sf0.1 and the 10×
    * anchor): every point with per-doc volume gap
    * (v_chunk − v_flip)/n ≤ 652 measures the schemes within noise of
    * each other (sf0.1 text 0.62 vs 0.61 s — the r14 cross-round
    * "crossover" at sf0.1 does not reproduce under same-session
    * conditions), and every point with gap ≥ 2357 measures flip1
    * ahead (10× text 7.8 vs 4.6 s, 10× image 2.48 vs 1.91 s). 1000
    * sits in the measured dead band: below it the volumes are too
    * small for the n² term to matter and the router keeps the
    * 7-rows/doc plan with the smaller shuffle footprint; above it
    * flip1's volume advantage is real. The predicate is all-integer
    * (BigInt driver-side, HUGEINT oracle-side), so engines can never
    * disagree on a boundary corpus.
    */
  val simhashFlipBudgetPerDoc = 1000L

  /** Exact candidate volumes of BOTH physical schemes, priced from
    * bucket counts BEFORE running either join: ONE Spark job — an
    * explode+count over the signature relation (11 rows/doc, the
    * same shuffle family the chosen join pays 7–56×) collected to
    * the driver, which is safe because the bucket-count relation is
    * LAYOUT-bounded, not corpus-bounded (≤ k·2ʷ + 4·2¹² ≈ 17k rows
    * at the default widths no matter how many documents exist — the
    * engine's documented driver-fold posture). The fold is BigInt,
    * so the ~n²/18 volumes can never wrap. v_chunk = Σ_bucket C(k,2)
    * over the chunk layout; v_flip = Σ_bucket C(k,2) over the 4×12
    * layout (base probes) + Σ_{bucket,bit} k_v·k_{v⊕bit}/2
    * (single-flip probes; each cross pair is seen from both ends, so
    * the halving is exact). Returns (n_docs, v_chunk, v_flip).
    */
  private[graft] def simhashRouteStatsFor(
      docs: DataFrame): (Long, BigInt, BigInt) = {
    val kC = simhashChunksOf(docs.sparkSession)
    require(kC >= 3,
      s"the routed simhash scheme prices chunk buckets driver-side, " +
        s"which needs chunk widths <= 16 bits (simhashChunks >= 3, " +
        s"got $kC); pin graft.dedup.simhashScheme explicitly instead")
    val specC = simhashChunkSpecFor(kC)
    val specF = simhashChunkSpecFor(4)
    val tagged =
      specC.zipWithIndex.map { case ((sh, m), c) =>
        s"named_struct('s', 0, 'c', $c, 'v', shiftright(sim, $sh) & $m)"
      } ++ specF.zipWithIndex.map { case ((sh, m), c) =>
        s"named_struct('s', 1, 'c', $c, 'v', shiftright(sim, $sh) & $m)"
      }
    val rows = docs
      .select(explode(expr(tagged.mkString("array(", ", ", ")")))
        .as("ch"))
      .select(col("ch.s").as("s"), col("ch.c").as("c"),
        col("ch.v").as("v"))
      .groupBy(col("s"), col("c"), col("v"))
      .agg(count(lit(1)).as("k"))
      .collect()
    var n = 0L
    var vChunk = BigInt(0)
    var vSame = BigInt(0)
    val fBuckets = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    rows.foreach { r =>
      val (s, c, v, k) =
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))
      val pairs = BigInt(k) * (k - 1) / 2
      if (s == 0) vChunk += pairs
      else {
        vSame += pairs
        fBuckets((c, v)) = k
        if (c == 0) n += k // every doc lands in flip chunk 0 exactly once
      }
    }
    var cross2 = BigInt(0)
    fBuckets.foreach { case ((c, v), k) =>
      var b = 0
      while (b < 12) {
        fBuckets.get((c, v ^ (1L << b)))
          .foreach(k2 => cross2 += BigInt(k) * k2)
        b += 1
      }
    }
    (n, vChunk, vSame + cross2 / 2)
  }

  /** The router's predicate — the single place the decision lives
    * (the batch route and the observable face both read THIS), so
    * the route cannot drift between its consumers or engines.
    */
  private[graft] def simhashRouteOf(n: Long, vChunk: BigInt,
                                    vFlip: BigInt): String =
    if (vChunk - vFlip > BigInt(simhashFlipBudgetPerDoc) * n) "flip1"
    else "chunk7"

  /** The route decision for a signature relation, a session-scoped
    * `Memo` entry keyed on the canonicalized signature plan: the
    * decision is a pure function of the signature RELATION, so
    * re-pricing it per call (dd_simhash + dd_simhash_eval walk the
    * same relation) would bill the route fee many times for one
    * answer. A store face's per-batch union is a DIFFERENT plan, so it
    * re-prices (correct: its corpus grew). A semantic-hash collision
    * silently reusing another relation's route is PERF-only — both
    * physical schemes emit identical pairs, so results can never
    * change.
    *
    * The key is `keyed`'s ORIGINAL logical plan (a localCheckpoint is
    * a fresh RDD every call, so keying on the checkpoint would never
    * hit) while the pricing job reads `priced` (the checkpoint) — on a
    * memo miss the signature computation runs exactly once.
    */
  private[graft] def simhashFlipRouteFor(keyed: DataFrame,
                                         priced: DataFrame): Boolean =
    Memo(keyed.sparkSession, Memo.session,
        ("simhash-route",
          keyed.queryExecution.logical.canonicalized.semanticHash())) {
      val (n, vChunk, vFlip) = simhashRouteStatsFor(priced)
      simhashRouteOf(n, vChunk, vFlip) == "flip1"
    }

  /** The blocked Hamming pair join over any (doc_id, sim) signature
    * relation — shared by the batch face and the incremental store
    * (whose per-batch signature facts union to exactly this relation:
    * a doc signs once, ever). Under the default `routed` scheme the
    * signature relation is checkpointed ONCE and both the route
    * pricing and the chosen join read the checkpoint — the route fee
    * is one bucket-count shuffle, never a second signature pass.
    */
  private[graft] def simhashPairsFrom(simDocs: DataFrame): DataFrame =
    simhashSchemeOf(simDocs.sparkSession) match {
      case "chunk7" => simhashChunkPairsFrom(simDocs)
      case "flip1" => simhashFlipPairsFromCk(simDocs.localCheckpoint())
      case _ =>
        // Checkpoint ONCE, memo-key on the ORIGINAL plan, price on
        // the checkpoint (r15 ADVICE): on a memo miss the signature
        // relation is computed exactly once and read by both the
        // pricing job and the chosen join — the Scaladoc contract.
        simhashPairsFromMat(simDocs, simDocs.localCheckpoint())
    }

  /** The routed pair join over an ALREADY-MATERIALIZED signature
    * relation (`priced`, e.g. a session tier) — no internal
    * checkpoint; the route memo keys on `keyed`, the stable original
    * plan, so re-materialized tiers still hit the memo.
    */
  private[graft] def simhashPairsFromMat(keyed: DataFrame,
                                         priced: DataFrame): DataFrame =
    simhashSchemeOf(priced.sparkSession) match {
      case "chunk7" => simhashChunkPairsFrom(priced)
      case "flip1" => simhashFlipPairsFromCk(priced)
      case _ =>
        if (simhashFlipRouteFor(keyed, priced))
          simhashFlipPairsFromCk(priced)
        else simhashChunkPairsFrom(priced)
    }

  private[graft] def simhashChunkPairsFrom(simDocs: DataFrame): DataFrame = {
    val spec = simhashChunkSpecFor(simhashChunksOf(simDocs.sparkSession))
    val chunks = simDocs.select(col("doc_id"), col("sim"),
      explode(expr(
        spec.zipWithIndex
          .map { case ((sh, m), c) =>
            s"named_struct('c', $c, 'v', shiftright(sim, $sh) & $m)" }
          .mkString("array(", ", ", ")"))).as("ch"))
      .select(col("doc_id"), col("sim"), col("ch.c").as("c"),
        col("ch.v").as("v"))
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("graft_hamming(x.sim, y.sim)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= hammingThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private[graft] def simhashFlipPairsFrom(simDocs: DataFrame): DataFrame =
    simhashFlipPairsFromCk(simDocs.localCheckpoint())

  private def simhashFlipPairsFromCk(docs: DataFrame): DataFrame = {
    val spec = simhashChunkSpecFor(4) // 4×12 bits
    val indexExprs = spec.zipWithIndex.map { case ((sh, m), c) =>
      s"named_struct('c', $c, 'v', shiftright(sim, $sh) & $m)"
    }
    val probeExprs = spec.zipWithIndex.flatMap { case ((sh, m), c) =>
      val base = s"(shiftright(sim, $sh) & $m)"
      s"named_struct('c', $c, 'v', $base)" +:
        (0 until 12).map(b =>
          s"named_struct('c', $c, 'v', $base ^ ${1 << b})")
    }
    val probes = docs.select(col("doc_id").as("p_id"),
        col("sim").as("p_sim"),
        explode(expr(probeExprs.mkString("array(", ", ", ")"))).as("ch"))
      .select(col("p_id"), col("p_sim"), col("ch.c").as("c"),
        col("ch.v").as("v"))
    val index = docs.select(col("doc_id").as("i_id"),
        col("sim").as("i_sim"),
        explode(expr(indexExprs.mkString("array(", ", ", ")"))).as("ch"))
      .select(col("i_id"), col("i_sim"), col("ch.c").as("c"),
        col("ch.v").as("v"))
    probes.join(index, Seq("c", "v"))
      .filter(col("p_id") < col("i_id"))
      .select(col("p_id").as("doc_a"), col("i_id").as("doc_b"),
        expr("graft_hamming(p_sim, i_sim)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= hammingThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- dd_simhash_route ----------------------------------------------

  /** The simhash scheme router's decision made OBSERVABLE (the
    * `dd_route_stats` precedent): one row with the corpus size, both
    * schemes' EXACT candidate volumes, the budget, and the plan the
    * `routed` default will take — what a pipeline owner reads before
    * a 100 TB dedup run, and what a regression gate watches (a corpus
    * drifting toward signature clumping flips this row before it
    * burns a cluster on the wrong blocking plan). Volumes are exact
    * integers cast to DOUBLE for output (the periodogram wide-integer
    * output discipline); the route predicate itself compares the
    * decimals, so the boundary is integer-exact on both engines.
    */
  def simhashRoute(spark: SparkSession, sfDir: String): DataFrame =
    simhashRouteFaceFor(simhashSims(spark, sfDir))

  /** The observable decision row over ANY signature relation — shared
    * with the image corpus's `mm_ahash_route` face (one router, every
    * 48-bit Hamming modality).
    */
  private[graft] def simhashRouteFaceFor(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // The observable faces are PINNED to the default chunk layout
    // (r15 ADVICE): their oracle SQL (`simhashRouteTailSql`) replays
    // the compile-time default spec, so honoring the simhashChunks
    // knob here would diverge v_chunk (and possibly the route)
    // between engines. The pair joins still honor the knob; the
    // route READOUT does not.
    require(simhashChunksOf(spark) == simhashChunkSpec.length,
      s"the dd_simhash_route/mm_ahash_route faces are pinned to the " +
        s"default ${simhashChunkSpec.length}-chunk layout their oracle " +
        s"replays; unset graft.dedup.simhashChunks " +
        s"(=${simhashChunksOf(spark)}) to read the route")
    val (n, vChunk, vFlip) = simhashRouteStatsFor(docs)
    import spark.implicits._
    Seq((n, vChunk.toDouble, vFlip.toDouble, simhashFlipBudgetPerDoc,
        simhashRouteOf(n, vChunk, vFlip)))
      .toDF("n_docs", "v_chunk", "v_flip", "budget_per_doc", "route")
  }

  lazy val simhashRouteSql: String = {
    val h48 = hex48Duck("md5(s)")
    val bitSums = (0 until simhashBits).map { b =>
      s"(CASE WHEN list_sum(list_transform(hst, h -> " +
        s"CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << $b)"
    }
    s"""WITH tt AS (
       |  SELECT doc_id,
       |    list_transform(regexp_extract_all(text, '\\S+'), s -> $h48)
       |      AS hst
       |  FROM documents
       |  WHERE len(regexp_extract_all(text, '\\S+')) >= 1
       |), sims AS MATERIALIZED (
       |  SELECT doc_id, ${bitSums.mkString(" + ")} AS sim FROM tt
       |), $simhashRouteTailSql""".stripMargin
  }

  /** The route readout SQL over any `sims(doc_id, sim)` CTE — shared
    * by the text face and the image (ahash) face so the replayed
    * integer predicate is literally one text.
    */
  private[graft] lazy val simhashRouteTailSql: String = {
    val branches =
      simhashChunkSpec.zipWithIndex.map { case ((sh, m), c) =>
        s"  SELECT 0 AS s, $c AS c, (sim >> $sh) & $m AS v FROM sims"
      } ++ simhashChunkSpecFor(4).zipWithIndex.map { case ((sh, m), c) =>
        s"  SELECT 1 AS s, $c AS c, (sim >> $sh) & $m AS v FROM sims"
      }
    s"""bc AS MATERIALIZED (
       |  SELECT s, c, v, CAST(count(*) AS HUGEINT) AS k FROM (
       |${branches.mkString("\n  UNION ALL\n")}
       |  ) GROUP BY 1, 2, 3
       |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sims),
       |vc AS (SELECT COALESCE(SUM(k * (k - 1)), 0) // 2 AS v_chunk
       |       FROM bc WHERE s = 0),
       |vs AS (SELECT COALESCE(SUM(k * (k - 1)), 0) // 2 AS v_same
       |       FROM bc WHERE s = 1),
       |vx AS (
       |  SELECT COALESCE(SUM(f.kp * h.k), 0) // 2 AS v_cross FROM (
       |    SELECT g.c AS c, xor(g.v, 1 << u.b) AS v, g.k AS kp
       |    FROM bc g, unnest(range(0, 12)) AS u(b) WHERE g.s = 1
       |  ) f JOIN bc h ON h.s = 1 AND h.c = f.c AND h.v = f.v
       |)
       |SELECT n_docs, CAST(v_chunk AS DOUBLE) AS v_chunk,
       |  CAST(v_same + v_cross AS DOUBLE) AS v_flip,
       |  CAST($simhashFlipBudgetPerDoc AS BIGINT) AS budget_per_doc,
       |  CASE WHEN v_chunk - (v_same + v_cross)
       |            > $simhashFlipBudgetPerDoc * n_docs
       |       THEN 'flip1' ELSE 'chunk7' END AS route
       |FROM n CROSS JOIN vc CROSS JOIN vs CROSS JOIN vx""".stripMargin
  }

  // ---- dd_simhash_eval ---------------------------------------------------

  /** RECALL SCORECARD for the chunk-blocked SimHash join — the eval
    * member for the Hamming family (dd_lsh_eval scores the banding,
    * dd_semantic_eval the cells; this scores the 7-chunk pigeonhole
    * blocks): blocked pairs vs the BRUTE all-pairs Hamming truth at
    * the same threshold. With `simhashChunks` = 7 the pigeonhole
    * guarantee is exact through distance `simhashChunks - 1` = 6 =
    * `hammingThreshold`, so recall is structurally 1.0 (r13's 4x12
    * layout measured 0.669 here); the face stays as the regression
    * scorecard. Containment is structural (blocking filters the same
    * hamming bound).
    *
    * 100 TB shape: blocked side is the production plan; the O(n²)
    * truth side is the eval posture (sampled slice at deployment,
    * primary-SF-only in the bench — the dd_semantic_eval argument).
    */
  def simhashEval(spark: SparkSession, sfDir: String): DataFrame = {
    // signature and candidate relations come from the session tiers
    // (one simhash48 pass and one blocked pair join per corpus, shared
    // with dd_simhash / dd_simhash_route); only the exact truth join
    // is this face's own work
    val sims = simhashSims(spark, sfDir)
    val cand = simhashPairsTier(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val truth = sims.as("x").join(sims.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .filter(expr("graft_hamming(x.sim, y.sim)") <= hammingThreshold)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .localCheckpoint()
    val nc = cand.agg(count(lit(1)).as("n_blocked"))
    val nt = truth.agg(count(lit(1)).as("n_true"))
    val nh = cand.join(truth, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit"))
    nc.crossJoin(broadcast(nt)).crossJoin(broadcast(nh))
      .select(col("n_blocked"), col("n_true"), col("n_hit"),
        (col("n_hit") === col("n_blocked")).as("containment_ok"),
        when(col("n_true") > 0, ParityMath.q6(
          col("n_hit").cast("double") / col("n_true").cast("double")))
          .as("recall"))
  }

  lazy val simhashEvalSql: String = {
    val h48 = hex48Duck("md5(s)")
    val bitSums = (0 until simhashBits).map { b =>
      s"(CASE WHEN list_sum(list_transform(hst, h -> " +
        s"CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << $b)"
    }
    val chunkBranches = simhashChunkBranchesSql("sims")
    s"""WITH tt AS (
       |  SELECT doc_id,
       |    list_transform(regexp_extract_all(text, '\\S+'), s -> $h48)
       |      AS hst
       |  FROM documents
       |  WHERE len(regexp_extract_all(text, '\\S+')) >= 1
       |), sims AS MATERIALIZED (
       |  SELECT doc_id, ${bitSums.mkString(" + ")} AS sim FROM tt
       |), chunks AS (
       |${chunkBranches.mkString("\n  UNION ALL\n")}
       |), cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.sim, y.sim)) <= $hammingThreshold
       |), truth AS MATERIALIZED (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM sims x JOIN sims y ON x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.sim, y.sim)) <= $hammingThreshold
       |), cc AS (SELECT CAST(count(*) AS BIGINT) AS n_blocked FROM cand),
       |tt2 AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
       |hh AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hit
       |  FROM cand JOIN truth USING (doc_a, doc_b)
       |)
       |SELECT n_blocked, n_true, n_hit,
       |  n_hit = n_blocked AS containment_ok,
       |  CASE WHEN n_true > 0 THEN ${ParityMath.q6Sql(
            "CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)")}
       |  END AS recall
       |FROM cc, tt2, hh""".stripMargin
  }

  val simhashPairsSql: String = {
    val h48 = hex48Duck("md5(s)")
    val bitSums = (0 until simhashBits).map { b =>
      s"(CASE WHEN list_sum(list_transform(hst, h -> " +
        s"CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << $b)"
    }
    val chunkBranches = simhashChunkBranchesSql("sims")
    s"""WITH tt AS (
       |  SELECT doc_id,
       |    list_transform(regexp_extract_all(text, '\\S+'), s -> $h48)
       |      AS hst
       |  FROM documents
       |  WHERE len(regexp_extract_all(text, '\\S+')) >= 1
       |), sims AS (
       |  SELECT doc_id, ${bitSums.mkString(" + ")} AS sim FROM tt
       |), chunks AS (
       |${chunkBranches.mkString("\n  UNION ALL\n")}
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= $hammingThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }
}
