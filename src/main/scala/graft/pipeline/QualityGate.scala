package graft.pipeline

import graft.core.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Gopher-style multi-signal quality gate: every document scored on six
  * independently-motivated signals, with an explicit keep/drop verdict
  * and the signal values retained for auditability (a training-data
  * pipeline needs to answer "WHY was this document dropped", not just
  * drop it). Reference family: the reference's per-event quality
  * filtering (`/root/reference/src-clj/streamsum/system.clj` drops
  * malformed events inline); this is the corpus-scale analogue over
  * `documents`.
  *
  * Signals (thresholds sized on the synthetic corpus so the gate
  * actually splits it; a real deployment would retune):
  *   - token count within [30, 5000]           (too short / too long)
  *   - mean token length within [4.0, 5.0]     (gibberish / markup)
  *   - stopword ratio >= 0.02                  (natural-language prior)
  *   - duplicate-trigram share <= 0.02 and top-bigram share <= 0.05
  *                                             (Gopher repetition rules)
  *   - add-1 unigram NLL <= 3.41               (statistical LM gate:
  *                                              rare-token soup scores
  *                                              high and is dropped)
  *
  * Plan shape for 100 TB: all repetition/length/stopword signals are
  * ONE narrow in-row pass (the codegen'd `graft_dup_ngrams` /
  * `graft_top_bigram` expressions - zero shuffle). The LM signal is the
  * only relational piece: one map-side-combinable term count (vocab is
  * small -> broadcasts back onto the token stream) and one keyed
  * doc_id aggregation whose output is already hash-partitioned on
  * doc_id, so the final signals-with-nll join reuses that partitioning
  * and shuffles only the narrow signal side once. Verdict booleans are
  * null-safe on BOTH engines (a doc with no [a-z0-9]+ tokens has null
  * nll -> fails the LM rule, never null-poisons `keep`).
  */
object QualityGate {

  val minTokens = 30L
  val maxTokens = 5000L
  val minMeanLen = 4.0
  val maxMeanLen = 5.0
  val minStopRatio = 0.02
  val maxDupTriRatio = 0.02
  val maxRep2Ratio = 0.05
  val maxNll = 3.41

  /** doc_id, term - the lowercased LM token stream of a documents
    * relation (batch or streaming).
    */
  private[graft] def termToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(
      expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))

  /** Corpus LM: the term-frequency relation (vocabulary-sized, so
    * downstream joins broadcast it) plus the grand totals collected to
    * plan-time Longs - one row, the same legitimate driver collect as
    * the IVF centroid literals, and what lets the streaming face avoid
    * an unsupported stream-static cross join. Computed from the BATCH
    * corpus; the streaming face scores arriving docs against this
    * static model.
    */
  private[graft] def lmRelations(spark: SparkSession,
                                 sfDir: String): (DataFrame, Long, Long) = {
    val freq = termToks(Graft.tableParallel(spark, sfDir, "documents"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val t = freq.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("v_size")).collect()(0)
    (freq, t.getLong(0), t.getLong(1))
  }

  /** doc_id -> nll over any token stream (batch or streaming): add-1
    * unigram NLL in exact integer micro-nats (order-independent, so
    * map-side combinable batch-side and incrementally maintainable
    * stream-side - state is two longs per doc), divided to a double
    * only at the end.
    */
  private[graft] def nllFromToks(toks: DataFrame, freq: DataFrame,
                                 nTotal: Long, vSize: Long): DataFrame =
    toks.join(broadcast(freq), "term")
      .select(col("doc_id"), expr(
        s"""CAST(floor(-ln(CAST(cnt + 1 AS DOUBLE)
           |  / CAST(${nTotal}L + ${vSize}L AS DOUBLE)) * 1000000.0 + 0.5)
           |  AS BIGINT)""".stripMargin).as("nll_u"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nll_u")).as("sum_u"), count(lit(1)).as("n_tok"))
      .select(col("doc_id"),
        ParityMath.q6((col("sum_u").cast("double") / lit(1000000.0))
          / col("n_tok")).as("nll"))

  /** doc_id -> nll: the batch LM relation, without a presentation sort. */
  private[graft] def nllPerDoc(spark: SparkSession, sfDir: String): DataFrame = {
    val (freq, nTotal, vSize) = lmRelations(spark, sfDir)
    nllFromToks(termToks(Graft.tableParallel(spark, sfDir, "documents")),
      freq, nTotal, vSize)
  }

  /** The narrow per-row signal relation (everything except nll). */
  private[graft] def rowSignals(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("mean_tok_len", when(col("n_tokens") >= 1, ParityMath.q6(
        expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
          .cast("double") / col("n_tokens").cast("double"))))
      .withColumn("stop_ratio", when(col("n_tokens") >= 1, ParityMath.q6(
        expr(s"size(filter(toks, x -> x IN (${TextAnalysis.stopList})))")
          .cast("double") / col("n_tokens").cast("double"))))
      .withColumn("dup_tri_ratio", when(col("n_tokens") >= 3, ParityMath.q6(
        expr("graft_dup_ngrams(toks, 3)").cast("double") /
          (col("n_tokens") - 2).cast("double"))))
      .withColumn("rep2_ratio", when(col("n_tokens") >= 3, ParityMath.q6(
        expr("graft_top_bigram(toks).c").cast("double") /
          (col("n_tokens") - 1).cast("double"))))
      .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
        col("stop_ratio"), col("dup_tri_ratio"), col("rep2_ratio"))

  /** Verdict from the assembled signal columns (shared by the batch and
    * streaming faces so the keep rule cannot drift between them).
    */
  private[graft] def withKeep(signals: DataFrame): DataFrame =
    signals.withColumn("keep",
      col("n_tokens").between(minTokens, maxTokens) &&
        coalesce(col("mean_tok_len").between(minMeanLen, maxMeanLen),
          lit(false)) &&
        coalesce(col("stop_ratio") >= minStopRatio, lit(false)) &&
        coalesce(col("dup_tri_ratio") <= maxDupTriRatio &&
          col("rep2_ratio") <= maxRep2Ratio, lit(false)) &&
        coalesce(col("nll") <= maxNll, lit(false)))

  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val signals = rowSignals(Graft.tableParallel(spark, sfDir, "documents"))
    withKeep(signals
      .join(nllPerDoc(spark, sfDir), Seq("doc_id"), "left"))
      .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
        col("stop_ratio"), col("dup_tri_ratio"), col("rep2_ratio"),
        col("nll"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // ---- pipe_quality_prune -------------------------------------------

  /** NLL histogram bin width: a power of two, so `nll * 16` is an
    * exact exponent shift in IEEE double and the bin id is bitwise
    * identical in both engines.
    */
  val pruneBinInv = 16.0
  val pruneQ = 0.75

  /** Per-source quality pruning with a SKETCH-derived threshold: keep
    * each source's best `pruneQ` quantile by LM NLL, where the cutoff
    * bin comes from the fixed-bin histogram (one source x bins count +
    * a rank walk) instead of a per-source global sort - at 100 TB a
    * rank-within-source window funnels corpus/#sources rows through
    * single reducers, while the histogram is a map-side-combinable
    * count whose cum-walk runs on source x occupied-bins rows. The cut
    * is bin-granular (error <= one bin = 1/16 nat) and deterministic,
    * which is also what makes it oracle-able; docs on the threshold
    * bin are kept. Only docs with an LM signal participate (no
    * [a-z0-9]+ tokens -> no row, same as the nll relation itself).
    */
  /** (doc_id, source, nll, bin) from a per-doc nll relation. */
  private[graft] def nllBinned(docs: DataFrame, nll: DataFrame): DataFrame =
    nll.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("bin",
        floor(col("nll") * lit(pruneBinInv)).cast(LongType))

  /** Per-source threshold bin from the histogram sketch: the first bin
    * whose cumulative count reaches ceil(q * n). Runs on
    * source x occupied-bins rows only.
    */
  private[graft] def pruneCuts(nb: DataFrame): DataFrame = {
    val hist = nb.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bin"))
    hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .filter(col("cum") >=
        ceil(lit(pruneQ) * col("n").cast("double")).cast(LongType))
      .groupBy(col("source")).agg(min(col("bin")).as("qbin"))
  }

  /** Verdict assembly shared by the batch and streaming faces. */
  private[graft] def pruneAssemble(nb: DataFrame,
                                   cuts: DataFrame): DataFrame =
    nb.join(broadcast(cuts), "source")
      .select(col("doc_id"), col("source"), col("nll"),
        (col("bin") <= col("qbin")).as("keep"))
      .orderBy(col("doc_id"))

  def prune(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val docs = Graft.tableParallel(spark, sfDir, "documents")
    val (freq, nTotal, vSize) = lmRelations(spark, sfDir)
    val nb = nllBinned(docs,
      nllFromToks(termToks(docs), freq, nTotal, vSize))
    pruneAssemble(nb, pruneCuts(nb))
  }

  /** The shared doc_id -> nll CTE chain (≙ `nllPerDoc`) - one
    * definition for every oracle that scores by the unigram LM
    * (pipe_quality_prune, pipe_curriculum), so the difficulty metric
    * cannot drift between faces.
    */
  private[graft] val nllCtesDuck: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), freq AS (
       |  SELECT term, count(*) AS cnt FROM toks GROUP BY term
       |), totals AS (
       |  SELECT sum(cnt) AS n_total, count(*) AS v_size FROM freq
       |), nll AS (
       |  SELECT doc_id, ${ParityMath.q6Sql(
            "(CAST(sum(nll_u) AS DOUBLE) / 1000000.0) / count(*)")} AS nll
       |  FROM (
       |    SELECT t.doc_id,
       |      CAST(floor(-ln(CAST(f.cnt + 1 AS DOUBLE)
       |        / CAST(tt.n_total + tt.v_size AS DOUBLE)) * 1000000.0 + 0.5)
       |        AS BIGINT) AS nll_u
       |    FROM toks t JOIN freq f USING (term) CROSS JOIN totals tt
       |  ) GROUP BY doc_id
       |)""".stripMargin

  val pruneSql: String =
    s"""WITH $nllCtesDuck, nb AS (
       |  SELECT n.doc_id, d.source, n.nll,
       |    CAST(floor(n.nll * $pruneBinInv) AS BIGINT) AS bin
       |  FROM nll n JOIN documents d USING (doc_id)
       |), hist AS (
       |  SELECT source, bin, count(*) AS c FROM nb GROUP BY source, bin
       |), cum AS (
       |  SELECT source, bin,
       |    sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
       |    sum(c) OVER (PARTITION BY source) AS n
       |  FROM hist
       |), cuts AS (
       |  SELECT source, min(bin) AS qbin FROM cum
       |  WHERE cum >= CAST(ceil($pruneQ * CAST(n AS DOUBLE)) AS BIGINT)
       |  GROUP BY source
       |)
       |SELECT nb.doc_id, nb.source, nb.nll, (nb.bin <= c.qbin) AS keep
       |FROM nb JOIN cuts c USING (source)
       |ORDER BY nb.doc_id""".stripMargin

  val sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
       |  FROM documents
       |), sig AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(t) >= 1 THEN ${ParityMath.q6Sql(
              """CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                | / CAST(len(t) AS DOUBLE)""".stripMargin)} END
       |      AS mean_tok_len,
       |    CASE WHEN len(t) >= 1 THEN ${ParityMath.q6Sql(
              s"""CAST(len(list_filter(t, x -> x IN (${TextAnalysis.stopList})))
                 |  AS DOUBLE) / CAST(len(t) AS DOUBLE)""".stripMargin)} END
       |      AS stop_ratio,
       |    CASE WHEN len(t) >= 3 THEN ${ParityMath.q6Sql(
              """CAST(len(t) - 2 - len(list_distinct(list_transform(
                |    range(1, len(t) - 1),
                |    i -> array_to_string(t[i:i+2], ' ')))) AS DOUBLE)
                | / CAST(len(t) - 2 AS DOUBLE)""".stripMargin)} END
       |      AS dup_tri_ratio
       |  FROM t
       |), bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> array_to_string(t[i:i+1], ' '))) AS bg
       |  FROM t WHERE len(t) >= 3
       |), rep2 AS (
       |  SELECT doc_id, ${ParityMath.q6Sql(
            "CAST(max(c) AS DOUBLE) / CAST(any_value(n_tokens) - 1 AS DOUBLE)")}
       |      AS rep2_ratio
       |  FROM (
       |    SELECT b.doc_id, b.bg, count(*) AS c,
       |           any_value(s.n_tokens) AS n_tokens
       |    FROM bg b JOIN sig s USING (doc_id)
       |    GROUP BY b.doc_id, b.bg
       |  ) GROUP BY doc_id
       |), toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), freq AS (
       |  SELECT term, count(*) AS cnt FROM toks GROUP BY term
       |), totals AS (
       |  SELECT sum(cnt) AS n_total, count(*) AS v_size FROM freq
       |), nll AS (
       |  SELECT doc_id, ${ParityMath.q6Sql(
            "(CAST(sum(nll_u) AS DOUBLE) / 1000000.0) / count(*)")} AS nll
       |  FROM (
       |    SELECT t.doc_id,
       |      CAST(floor(-ln(CAST(f.cnt + 1 AS DOUBLE)
       |        / CAST(tt.n_total + tt.v_size AS DOUBLE)) * 1000000.0 + 0.5)
       |        AS BIGINT) AS nll_u
       |    FROM toks t JOIN freq f USING (term) CROSS JOIN totals tt
       |  ) GROUP BY doc_id
       |)
       |SELECT s.doc_id, s.n_tokens, s.mean_tok_len, s.stop_ratio,
       |  s.dup_tri_ratio, r.rep2_ratio, n.nll,
       |  (s.n_tokens BETWEEN $minTokens AND $maxTokens
       |   AND COALESCE(s.mean_tok_len BETWEEN $minMeanLen AND $maxMeanLen,
       |                FALSE)
       |   AND COALESCE(s.stop_ratio >= $minStopRatio, FALSE)
       |   AND COALESCE(s.dup_tri_ratio <= $maxDupTriRatio
       |                AND r.rep2_ratio <= $maxRep2Ratio, FALSE)
       |   AND COALESCE(n.nll <= $maxNll, FALSE)) AS keep
       |FROM sig s
       |LEFT JOIN rep2 r USING (doc_id)
       |LEFT JOIN nll n USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin
}
