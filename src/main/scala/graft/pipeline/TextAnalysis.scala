package graft.pipeline

import graft.core.{Graft, Memo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for a training-data pipeline: quality
  * scoring, language ID, token counting, fingerprinting. All narrow
  * (per-document) work - no shuffle except the final presentation sort -
  * so they scale linearly with executors at 100 TB.
  *
  * Every formula is written twice (Column DSL + DuckDB SQL) from the
  * same definitions; doubles only ever come from exact integer ratios or
  * identically-ordered arithmetic, then ParityMath.q6(…), so the oracle
  * hash-matches bit-for-bit.
  */
object TextAnalysis {

  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  private[pipeline] val stopList = stopwords.map(s => s"'$s'").mkString(", ")

  /** Marker tokens per language for the n-gram/marker language-ID
    * heuristic (documents carry a `lang` ground-truth column; the
    * heuristic is scored against it downstream, not trained on it).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "los", "las", "y", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni"))

  // ---- txt_stats ----------------------------------------------------

  /** Per-document quality statistics + composite score. */
  def stats(spark: SparkSession, sfDir: String): DataFrame =
    Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("n_chars_calc", length(col("text")).cast(LongType))
      .withColumn("n_stop", expr(
        s"size(filter(toks, x -> x IN ($stopList)))").cast(LongType))
      .withColumn("n_punct",
        (length(col("text")) -
         length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast(LongType))
      .withColumn("stop_ratio", ParityMath.q6(
        col("n_stop").cast("double") / col("n_tokens").cast("double")))
      .withColumn("punct_ratio", ParityMath.q6(
        col("n_punct").cast("double") / col("n_chars_calc").cast("double")))
      .withColumn("quality", ParityMath.q6(
        least(lit(1.0), col("n_tokens").cast("double") / lit(50.0)) *
          (lit(1.0) - col("stop_ratio") * lit(0.5)) *
          (lit(1.0) - col("punct_ratio"))))
      .select(col("doc_id"), col("lang"), col("n_chars_calc"),
        col("n_tokens"), col("n_stop"), col("n_punct"),
        col("stop_ratio"), col("punct_ratio"), col("quality"))
      .orderBy(col("doc_id"))

  val statsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         CAST(length(text) AS BIGINT) AS n_chars_calc,
       |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
       |           AS n_tokens,
       |         CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
       |                              x -> x IN ($stopList))) AS BIGINT)
       |           AS n_stop,
       |         CAST(length(text)
       |              - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
       |              AS BIGINT) AS n_punct
       |  FROM documents
       |), r AS (
       |  SELECT *,
       |    (floor((CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
       |      AS stop_ratio,
       |    (floor((CAST(n_punct AS DOUBLE) / CAST(n_chars_calc AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
       |      AS punct_ratio
       |  FROM t
       |)
       |SELECT doc_id, lang, n_chars_calc, n_tokens, n_stop, n_punct,
       |  stop_ratio, punct_ratio,
       |  (floor((least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
       |        * (1.0 - stop_ratio * 0.5) * (1.0 - punct_ratio)) * 1000000.0 + 0.5) / 1000000.0)
       |    AS quality
       |FROM r ORDER BY doc_id""".stripMargin

  // ---- txt_readability ------------------------------------------------

  /** Per-doc READABILITY scores (Flesch reading ease + Flesch-Kincaid
    * grade) from three exact integer counts — words (\S+ runs),
    * sentences ([.!?]+ runs), and the standard vowel-group syllable
    * proxy ([aeiou]+ runs over the lowercased text; Flesch 1948 /
    * Kincaid 1975 with the deterministic syllable heuristic every
    * at-scale implementation uses, since a dictionary syllabifier
    * isn't reproducible across engines). The quality-scoring member
    * next to `txt_stats`'s length/punct ratios: readability is the
    * curation feature that separates prose from boilerplate/code at
    * equal token counts. Counts are char-class regex extractions with
    * identical semantics in Java regex and RE2; the two scores are
    * the identical closed formula under q6; zero-count denominators
    * floor at 1 on both engines (a no-sentence doc reads as one
    * sentence, never a divide-by-zero). Shape: one narrow scan,
    * row-local, no shuffle — 100 TB cost is the scan itself.
    */
  def readability(spark: SparkSession, sfDir: String): DataFrame =
    readabilityFrom(Graft.tableParallel(spark, sfDir, "documents"))
      .orderBy(col("doc_id"))

  /** The row-local scoring over any documents relation — shared by the
    * batch face and the streaming face (readability is stateless, so
    * the stream is the same projection, final at arrival).
    */
  private[graft] def readabilityFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_words", expr(
        "CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)"))
      .withColumn("n_sentences", expr(
        "CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)"))
      .withColumn("n_syllables", expr(
        "CAST(size(regexp_extract_all(lower(text), '[aeiou]+', 0)) " +
          "AS BIGINT)"))
      .withColumn("wd", expr("CAST(greatest(1L, n_words) AS DOUBLE)"))
      .withColumn("sd", expr("CAST(greatest(1L, n_sentences) AS DOUBLE)"))
      .withColumn("flesch", ParityMath.q6(expr(
        """206.835 - 1.015 * (CAST(n_words AS DOUBLE) / sd)
          |        - 84.6 * (CAST(n_syllables AS DOUBLE) / wd)"""
          .stripMargin)))
      .withColumn("fk_grade", ParityMath.q6(expr(
        """0.39 * (CAST(n_words AS DOUBLE) / sd)
          |  + 11.8 * (CAST(n_syllables AS DOUBLE) / wd) - 15.59"""
          .stripMargin)))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("flesch"), col("fk_grade"))

  val readabilitySql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
       |      AS n_words,
       |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
       |      AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
       |      AS n_syllables
       |  FROM documents
       |), d AS (
       |  SELECT *,
       |    CAST(greatest(1, n_words) AS DOUBLE) AS wd,
       |    CAST(greatest(1, n_sentences) AS DOUBLE) AS sd
       |  FROM t
       |)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  ${ParityMath.q6Sql(
            """206.835 - 1.015 * (CAST(n_words AS DOUBLE) / sd)
              |        - 84.6 * (CAST(n_syllables AS DOUBLE) / wd)"""
              .stripMargin)} AS flesch,
       |  ${ParityMath.q6Sql(
            """0.39 * (CAST(n_words AS DOUBLE) / sd)
              |  + 11.8 * (CAST(n_syllables AS DOUBLE) / wd) - 15.59"""
              .stripMargin)} AS fk_grade
       |FROM d ORDER BY doc_id""".stripMargin

  // ---- txt_langid ---------------------------------------------------

  /** Marker-word language ID: score = marker hits / tokens per language,
    * predicted = argmax (score desc, lang asc). Narrow per-doc work +
    * an explode of 5 scored rows, ranked in one window.
    */
  def langid(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
    val langScores = langMarkers.map { case (lang, markers) =>
      val ml = markers.map(m => s"'$m'").mkString(", ")
      struct(lit(lang).as("cand"),
        expr(s"size(filter(toks, x -> x IN ($ml)))").cast(LongType)
          .as("hits"))
    }
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand"))
    scored
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        explode(array(langScores: _*)).as("s"))
      .select(col("doc_id"), col("lang"), col("s.cand").as("cand"),
        ParityMath.q6(col("s.hits").cast("double") / col("n_tokens").cast("double")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("pred_lang"),
        col("score"))
      .orderBy(col("doc_id"))
  }

  val langidSql: String = {
    val branches = langMarkers.map { case (lang, markers) =>
      val ml = markers.map(m => s"'$m'").mkString(", ")
      s"""  SELECT doc_id, lang, '$lang' AS cand,
         |    (floor((CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
         |                   x -> x IN ($ml))) AS DOUBLE)
         |          / CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE))
         |          * 1000000.0 + 0.5) / 1000000.0) AS score
         |  FROM documents""".stripMargin
    }
    s"""WITH scored AS (
       |${branches.mkString("\n  UNION ALL\n")}
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY score DESC, cand) AS rk
       |  FROM scored
       |)
       |SELECT doc_id, lang, cand AS pred_lang, score
       |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin
  }

  // ---- txt_langid_eval ----------------------------------------------

  /** Classifier evaluation face: the langid confusion matrix against
    * the labeled `lang` column - the calibration report a curation
    * pipeline runs before trusting a heuristic classifier to route
    * documents. Pure integer counts over the langid relation (one
    * map-combinable (label, pred) agg on top of it), so the oracle is
    * bitwise. At 100 TB the label would come from a held-out annotated
    * slice; the plan is label-source-agnostic.
    */
  def langidEval(spark: SparkSession, sfDir: String): DataFrame =
    langid(spark, sfDir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  val langidEvalSql: String =
    s"""WITH base AS (
       |${langidSql.linesIterator.map("  " + _).mkString("\n")
         .replace("ORDER BY doc_id", "")}
       |)
       |SELECT lang, pred_lang, count(*) AS n
       |FROM base GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin

  // ---- txt_tokens ---------------------------------------------------

  /** Whitespace + BPE-ish regex token counts. The BPE-ish pieces are
    * letter runs, single digits, and single non-alphanumeric marks -
    * the shape of a byte-pair pre-tokenizer.
    */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("n_ws", expr(
        "size(regexp_extract_all(text, '\\\\S+', 0))").cast(LongType))
      .withColumn("n_bpe", expr(
        "size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\\\s]', 0))")
        .cast(LongType))
      .withColumn("n_distinct", expr(
        "size(array_distinct(regexp_extract_all(text, '\\\\S+', 0)))")
        .cast(LongType))
      .withColumn("chars_per_tok", ParityMath.q6(
        length(col("text")).cast("double") / col("n_ws").cast("double")))
      .select(col("doc_id"), col("n_ws"), col("n_bpe"), col("n_distinct"),
        col("chars_per_tok"))
      .orderBy(col("doc_id"))

  val tokensSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))
      |       AS BIGINT) AS n_bpe,
      |  CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS BIGINT)
      |    AS n_distinct,
      |  (floor((CAST(length(text) AS DOUBLE)
      |        / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
      |    AS chars_per_tok
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- txt_fertility --------------------------------------------------

  /** TOKENIZER FERTILITY per predicted language — the pretraining
    * diagnostic behind "how many BPE pieces does a word cost in each
    * language" (fertility skew is how a tokenizer silently taxes some
    * languages' context windows): per language, pieces-per-word
    * (Σ n_bpe / Σ n_ws) and chars-per-piece (Σ chars / Σ n_bpe) over
    * exact corpus-wide sums, one pinned q6 division each. Language =
    * the in-row argmax of the marker scores (min over
    * (−score, cand) structs ≡ the txt_langid window's
    * (score DESC, cand ASC) pick — same winner, no window, so the
    * per-doc projection stays streamable); score divides by
    * greatest(1, n_ws) so empty docs rank deterministically.
    *
    * 100 TB shape: the per-doc stats are WITHIN-ROW (narrow, no
    * shuffle); the only exchange is the final languages-sized
    * map-combinable sum — the storable fact of both faces.
    */
  def fertility(spark: SparkSession, sfDir: String): DataFrame =
    fertilityFromDocStats(fertilityDocStats(
      Graft.tableParallel(spark, sfDir, "documents")))

  /** The within-row per-doc projection (pred_lang, n_ws, n_bpe,
    * n_chars) — shared by all three faces.
    */
  private[graft] def fertilityDocStats(docs: DataFrame): DataFrame = {
    val scored = docs
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .withColumn("n_ws", size(col("toks")).cast(LongType))
    val langScores = langMarkers.map { case (lang, markers) =>
      val ml = markers.map(m => s"'$m'").mkString(", ")
      struct(
        negate(ParityMath.q6(
          expr(s"CAST(size(filter(toks, x -> x IN ($ml))) AS DOUBLE)") /
            greatest(col("n_ws"), lit(1L)).cast("double"))).as("ns"),
        lit(lang).as("cand"))
    }
    scored
      .withColumn("pick", array_min(array(langScores: _*)))
      .select(col("pick.cand").as("pred_lang"), col("n_ws"),
        expr("size(regexp_extract_all(text," +
          " '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\\\s]', 0))")
          .cast(LongType).as("n_bpe"),
        length(col("text")).cast(LongType).as("n_chars"))
  }

  /** The report over any per-doc stats relation (its languages-sized
    * additive sums are the faces' storable fact).
    */
  private[graft] def fertilityFromDocStats(st: DataFrame): DataFrame =
    fertilityFromSums(st.groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_ws")).as("ws"),
        sum(col("n_bpe")).as("bpe"), sum(col("n_chars")).as("chars")))

  /** The final ratios over any per-language ADDITIVE sum relation —
    * the store face's mergeable fact.
    */
  private[graft] def fertilityFromSums(sums: DataFrame): DataFrame =
    sums
      .select(col("pred_lang"), col("n_docs"), col("ws"), col("bpe"),
        col("chars"),
        when(col("ws") > 0, ParityMath.q6(
          col("bpe").cast("double") / col("ws").cast("double")))
          .as("fertility"),
        when(col("bpe") > 0, ParityMath.q6(
          col("chars").cast("double") / col("bpe").cast("double")))
          .as("chars_per_piece"))
      .orderBy(col("pred_lang"))

  val fertilitySql: String = {
    val branches = langMarkers.map { case (lang, markers) =>
      val ml = markers.map(m => s"'$m'").mkString(", ")
      s"""  SELECT doc_id, '$lang' AS cand,
         |    (floor((CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
         |                   x -> x IN ($ml))) AS DOUBLE)
         |          / CAST(greatest(len(regexp_extract_all(text, '\\S+')), 1)
         |                 AS DOUBLE))
         |          * 1000000.0 + 0.5) / 1000000.0) AS score
         |  FROM documents""".stripMargin
    }
    s"""WITH scored AS (
       |${branches.mkString("\n  UNION ALL\n")}
       |), pick AS (
       |  SELECT doc_id, cand AS pred_lang FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                 ORDER BY score DESC, cand) AS rk
       |    FROM scored
       |  ) WHERE rk = 1
       |), st AS (
       |  SELECT p.pred_lang,
       |    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT)
       |      AS n_ws,
       |    CAST(len(regexp_extract_all(d.text,
       |         '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe,
       |    CAST(length(d.text) AS BIGINT) AS n_chars
       |  FROM documents d JOIN pick p ON p.doc_id = d.doc_id
       |), agg AS (
       |  SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_ws) AS BIGINT) AS ws,
       |    CAST(sum(n_bpe) AS BIGINT) AS bpe,
       |    CAST(sum(n_chars) AS BIGINT) AS chars
       |  FROM st GROUP BY 1
       |)
       |SELECT pred_lang, n_docs, ws, bpe, chars,
       |  CASE WHEN ws > 0 THEN ${ParityMath.q6Sql(
            "CAST(bpe AS DOUBLE) / CAST(ws AS DOUBLE)")}
       |  END AS fertility,
       |  CASE WHEN bpe > 0 THEN ${ParityMath.q6Sql(
            "CAST(chars AS DOUBLE) / CAST(bpe AS DOUBLE)")}
       |  END AS chars_per_piece
       |FROM agg ORDER BY pred_lang""".stripMargin
  }

  // ---- txt_pii_scrub ------------------------------------------------

  /** PII scrubbing: redact email / phone / SSN-shaped spans (the
    * standard training-data hygiene pass). Narrow per-row regexes;
    * emits the scrubbed text's digest (not the text - keeps the result
    * compact) + per-kind redaction counts. The synthetic corpus is
    * PII-free, so counts are 0 here; TextAnalysisSpec drives the
    * operator with planted PII.
    */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ssnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  def piiScrubExpr(textCol: String): org.apache.spark.sql.Column = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col(textCol), emailRe, "<EMAIL>"),
        ssnRe, "<SSN>"),
      phoneRe, "<PHONE>")
    scrubbed
  }

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("n_email", size(expr(
        s"regexp_extract_all(text, '${emailRe.replace("\\", "\\\\")}', 0)"))
        .cast(LongType))
      .withColumn("n_phone", size(expr(
        s"regexp_extract_all(text, '${phoneRe.replace("\\", "\\\\")}', 0)"))
        .cast(LongType))
      .withColumn("n_ssn", size(expr(
        s"regexp_extract_all(text, '${ssnRe.replace("\\", "\\\\")}', 0)"))
        .cast(LongType))
      .withColumn("scrubbed_hash", md5(piiScrubExpr("text").cast("binary")))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ssn"),
        col("scrubbed_hash"))
      .orderBy(col("doc_id"))

  val piiScrubSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT)
       |    AS n_email,
       |  CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT)
       |    AS n_phone,
       |  CAST(len(regexp_extract_all(text, '$ssnRe')) AS BIGINT) AS n_ssn,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |      '$emailRe', '<EMAIL>', 'g'),
       |      '$ssnRe', '<SSN>', 'g'),
       |      '$phoneRe', '<PHONE>', 'g')) AS scrubbed_hash
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- txt_sample ---------------------------------------------------

  /** Deterministic hash-based sampling - how a production pipeline
    * takes a reproducible x% slice of a corpus (seed-stable across
    * reruns and engines, unlike rand()): keep a document iff its
    * content hash falls in the sample band; report per-language counts
    * so stratification is visible.
    */
  def sample(spark: SparkSession, sfDir: String, mod: Int = 10): DataFrame =
    Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("h", expr("graft_md5_48(concat('sample:', doc_id))"))
      .filter(col("h") % mod === 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))

  def sampleSql(mod: Int = 10): String = {
    val h48 = graft.pipeline.HashParity.hex48Duck(
      "md5(concat('sample:', doc_id))")
    s"""SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
       |FROM documents
       |WHERE $h48 % $mod = 0
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- txt_keyphrase: RAKE keyword extraction ------------------------

  /** Candidate runs longer than this are EXCLUDED outright (RAKE's
    * known failure mode is listy/degenerate text producing one giant
    * "phrase"; the cap is the cooccur-family exclusion contract, not a
    * truncation).
    */
  val rakeMaxLen = 4

  /** Keyphrases emitted. */
  val rakeTopK = 20

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * the maximal stopword-free token runs (gaps-and-islands over the
    * token stream), each word scores deg(w)/freq(w) over the WHOLE
    * candidate corpus — deg counts co-membership (Σ of containing
    * phrase lengths), freq plain occurrences, the ratio favoring words
    * that appear inside longer phrases — and a phrase scores the sum
    * of its words' scores. Scores are exact integers: per-word
    * (10⁶·deg) DIV freq micro-units summed with multiplicity, so both
    * engines agree bitwise and the top-k order is a total order
    * ((score DESC, phrase ASC) — phrase unique after the final
    * aggregation).
    *
    * 100 TB shape: one corpus scan → narrow explode → ONE doc-keyed
    * window (row_number for the island id — bounded per doc, never
    * global) → keyed aggregations only; the word-score relation is
    * vocab-sized and joins back keyed on the word; the top-k is a
    * TakeOrdered. No all-pairs, no global window anywhere.
    */
  def keyphrase(spark: SparkSession, sfDir: String): DataFrame =
    rakeScore(rakePhraseTokensFromToks(lmDocToks(spark, sfDir)
      .select(col("doc_id"), col("ts"))))

  private[graft] def keyphraseFrom(docs: DataFrame): DataFrame =
    rakeScore(rakePhraseTokens(docs))

  /** The per-doc candidate fact relation — one row per token instance
    * inside a kept (≤ `rakeMaxLen`) stopword-free run, carrying its
    * phrase and the phrase length. Docs are immutable, so the store
    * face lands these ONCE per doc; everything corpus-global (word
    * stats, phrase scores, the top-k) is downstream of this relation.
    */
  private[graft] def rakePhraseTokens(docs: DataFrame): DataFrame =
    rakePhraseTokensFromToks(docs.select(col("doc_id"), expr(
      "regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts")))

  private[graft] def rakePhraseTokensFromToks(docToks: DataFrame): DataFrame = {
    val toks = docToks
      .select(col("doc_id"), posexplode(col("ts")))
      .toDF("doc_id", "i", "tok")
    val ns = toks.filter(!col("tok").isin(stopwords: _*))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      .withColumn("grp", col("i") - col("rn"))
      .select(col("doc_id"), col("grp"), col("i"), col("tok"))
    val ph = ns.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(i, tok))), " +
            "x -> x.tok)")).as("phrase"))
      .filter(col("plen") <= rakeMaxLen)
    ns.join(ph, Seq("doc_id", "grp"))
      .select(col("doc_id"), col("grp"), col("tok"), col("plen"),
        col("phrase"))
  }

  /** Word stats + phrase scoring + top-k over any phrase-token fact
    * relation — shared by the batch face and the store face's view
    * (one arriving doc shifts every word's deg/freq and thereby every
    * phrase's score: scores are never storable state).
    */
  private[graft] def rakeScore(phTok0: DataFrame): DataFrame = {
    val phTok = phTok0.localCheckpoint()
    val ws = phTok.groupBy(col("tok"))
      .agg(expr("(1000000L * sum(plen)) DIV count(1)").as("wscore"))
    val inst = phTok.join(ws, "tok")
      .groupBy(col("doc_id"), col("grp"), col("phrase"))
      .agg(sum(col("wscore")).as("sc"))
    inst.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occur"), min(col("sc")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(rakeTopK)
  }

  val keyphraseSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, u.i AS i, ts[u.i] AS tok
       |  FROM d, unnest(range(1, len(ts) + 1)) u(i)
       |), ns AS (
       |  SELECT doc_id, i, tok,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM tok WHERE tok NOT IN ($stopList)
       |), ph AS (
       |  SELECT doc_id, grp, count(*) AS plen,
       |         string_agg(tok, ' ' ORDER BY i) AS phrase
       |  FROM ns GROUP BY 1, 2 HAVING count(*) <= $rakeMaxLen
       |), pt AS (
       |  SELECT ns.doc_id, ns.grp, ns.tok, ph.plen, ph.phrase
       |  FROM ns JOIN ph USING (doc_id, grp)
       |), ws AS (
       |  SELECT tok,
       |    CAST((1000000 * sum(plen)) // count(*) AS BIGINT) AS wscore
       |  FROM pt GROUP BY 1
       |), inst AS (
       |  SELECT pt.doc_id, pt.grp, pt.phrase,
       |         CAST(sum(ws.wscore) AS BIGINT) AS sc
       |  FROM pt JOIN ws USING (tok) GROUP BY 1, 2, 3
       |)
       |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur,
       |       CAST(min(sc) AS BIGINT) AS score_micro
       |FROM inst GROUP BY 1
       |ORDER BY score_micro DESC, phrase ASC LIMIT $rakeTopK""".stripMargin

  // ---- txt_phrase_merge ---------------------------------------------

  /** Ordered merge table ≙ a trained BPE/phrase vocabulary: pair
    * (a, b) merges to "a_b", applied in table order, left-to-right
    * non-overlapping within a pass - the apply step of byte-pair
    * encoding and of word2vec-style phrase detection (Mikolov et al.,
    * "Distributed Representations of Words and Phrases", NeurIPS
    * 2013). Training the table is the offline step; the corpus-scale
    * work is applying it, which is what this operator distributes.
    * The last two entries chain onto earlier outputs (multi-level
    * phrases), the behavior a naive per-pair pass would miss.
    */
  val phraseMerges: Seq[(String, String)] = Seq(
    ("hash", "join"), ("sort", "merge"), ("table", "scan"),
    ("key", "value"), ("group", "agg"), ("stream", "batch"),
    ("hash_join", "filter"), ("sort_merge", "join"))

  /** Left-to-right non-overlapping pair merging via delimiter-wrapped
    * string replacement: each token is wrapped as \x01tok\x01, so the
    * pair pattern \x01a\x01\x01b\x01 consumes BOTH tokens' wrappers
    * and the engine's replace() - left-to-right, non-overlapping in
    * both Spark and DuckDB - implements exactly the BPE merge-pass
    * semantics ("a a a" + (a,a) -> ["a_a", "a"], and a replacement is
    * never re-matched within its own pass). Zero float work, so
    * cross-engine parity is structural. One narrow pass; the merged
    * token stream is recovered by splitting on the doubled delimiter.
    *
    * Precondition: tokens must not contain \x01 (true of the corpus
    * here; a production caller strips control characters in the
    * cleaning pass that precedes tokenization - txt_pii_scrub /
    * pipe_corpus_clean territory - or picks an unused sentinel).
    */
  private def mergeExprOf(merges: Seq[(String, String)], col: String,
                          fn: (String, String, String) => String,
                          chr: String): String =
    merges.foldLeft(col) { case (acc, (a, b)) =>
      fn(acc, s"$chr || '$a' || $chr || $chr || '$b' || $chr",
        s"$chr || '${a}_$b' || $chr")
    }

  def phraseMerge(spark: SparkSession, sfDir: String): DataFrame =
    phraseMergeFrom(Graft.tableParallel(spark, sfDir, "documents"))

  private[graft] def phraseMergeFrom(
      docs: DataFrame,
      merges: Seq[(String, String)] = phraseMerges): DataFrame = {
    val sparkReplace = (s: String, find: String, rep: String) =>
      s"replace($s, $find, $rep)"
    val merged = mergeExprOf(merges, "wrapped", sparkReplace, "chr(1)")
    docs
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= 1)
      .withColumn("wrapped", expr(
        "chr(1) || concat_ws(chr(1) || chr(1), toks) || chr(1)"))
      .withColumn("mtoks", expr(
        s"split(substring($merged, 2, length($merged) - 2), chr(1) || chr(1))"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_before"),
        size(col("mtoks")).cast(LongType).as("n_after"),
        expr("concat_ws(' ', mtoks)").as("text_merged"))
      .orderBy(col("doc_id"))
  }

  val phraseMergeSql: String = {
    val duckReplace = (s: String, find: String, rep: String) =>
      s"replace($s, $find, $rep)"
    val merged = mergeExprOf(phraseMerges, "wrapped", duckReplace, "chr(1)")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
       |  FROM documents WHERE len(regexp_extract_all(text, '\\S+')) >= 1
       |), w AS (
       |  SELECT doc_id, toks,
       |    chr(1) || array_to_string(toks, chr(1) || chr(1)) || chr(1)
       |      AS wrapped
       |  FROM t
       |), m AS (
       |  SELECT doc_id, toks,
       |    str_split(substring($merged, 2, length($merged) - 2),
       |      chr(1) || chr(1)) AS mtoks
       |  FROM w
       |)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before,
       |  CAST(len(mtoks) AS BIGINT) AS n_after,
       |  array_to_string(mtoks, ' ') AS text_merged
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- txt_bpe_learn ------------------------------------------------

  /** Number of merge rounds the induction runs (mirrors the 8-entry
    * applied table above; bounded by construction, like
    * `Dedup.resolveComponents`' loud round cap).
    */
  val bpeRounds: Int = 8

  /** Support floor for the early stop: once the BEST pair's count
    * drops below this, every remaining round would merge noise (and a
    * merge can only create pairs at most as frequent as the ones it
    * consumed - the max is non-increasing, asserted in spec - so the
    * first sub-floor round proves all later rounds sub-floor too).
    * Stopping saves whole corpus-scan rounds at scale; the oracle
    * applies the SAME rule in SQL, so both engines learn identical
    * tables.
    */
  val bpeSupportFloor: Long = 2L

  /** BPE pair-merge vocabulary INDUCTION - learns the merge table that
    * `txt_phrase_merge` applies (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016, at the
    * word level - i.e. phrase induction a la Mikolov et al. 2013).
    * Mirrors the reference's rules-from-data spirit
    * (/root/reference/src-clj/streamsum/system.clj `deftransform`:
    * transform rules are config, and config is produced offline).
    *
    * Per round: count adjacent pairs over the so-far-merged token
    * stream (ONE map-side-combinable groupBy on pair keys), take the
    * global argmax with a deterministic tie-break (count desc, then
    * lhs/rhs binary asc) via TakeOrderedAndProject - a 1-row collect,
    * bounded by construction - then fold the winner into the merge
    * chain (the same \x01-wrapped non-overlapping replace pass the
    * apply operator uses, so learn and apply share semantics exactly).
    *
    * 100 TB shape: each round is a narrow replace chain over the
    * corpus + one partial-agg'd shuffle keyed on pairs + a top-1
    * reduction; rounds are a small constant, and the winning pair is
    * folded in as a LITERAL (broadcast-free). The max pair count is
    * non-increasing across rounds (a merge can only create pairs at
    * most as frequent as the ones it consumed), asserted in spec.
    */
  def bpeLearn(spark: SparkSession, sfDir: String): DataFrame = {
    // the learn FACE reads the same memo the encode face consumes:
    // before this, a pass benching both faces ran the full sequential
    // induction twice (the face called bpeLearnFrom directly and the
    // encode's memo missed because nothing had populated it)
    val s2 = Graft.ensureConf(spark)
    import s2.implicits._
    learnedTableFor(spark, sfDir)
      .toDF("round", "lhs", "rhs", "pair_count").orderBy(col("round"))
  }

  /** Learned merge table, a `Memo` entry per (session, corpus) - the
    * trained-centroid posture (`Similarity.trainedCentroidsFor`): the
    * table is trained once and shipped to every consumer, so the
    * encode face prices the corpus-scale APPLY, not a re-train per
    * query. Deterministic induction ⇒ the memo cannot change any
    * gated result. The memo holds the FULL learned rows (round, lhs,
    * rhs, pair_count) so the learn face and the encode apply share one
    * induction.
    */
  private[graft] def learnedTableFor(
      spark: SparkSession,
      sfDir: String): Seq[(Long, String, String, Long)] =
    Memo(spark, sfDir, "bpe-table") {
      bpeLearnFrom(Graft.tableParallel(spark, sfDir, "documents"), bpeRounds)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    }

  private[graft] def learnedMergesFor(
      spark: SparkSession, sfDir: String): Seq[(String, String)] =
    learnedTableFor(spark, sfDir).map(t => (t._2, t._3))

  private[graft] def bpeLearnFrom(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    val d = "\u0001"
    val base = docs
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= 2)
      .select(expr("chr(1) || concat_ws(chr(1) || chr(1), toks) || chr(1)")
        .as("wrapped"))
      .persist()
    var learned = Vector.empty[(Long, String, String, Long)]
    // the merged stream carries forward INCREMENTALLY: round r applies
    // only the newest merge to round r-1's materialized output (the
    // argmax job below materializes it), instead of replaying an
    // r-length replace chain over the base - O(R) corpus string scans
    // total, not O(R²), with a bit-identical stream at every round
    // (chained vs incremental application of the same ordered replaces
    // is the same function)
    var cur = base
    var toRelease: Option[DataFrame] = None
    try {
      var r = 1
      var stopped = false
      while (r <= rounds && !stopped) {
        // lit()-based replace: learned tokens never pass through SQL
        // text, so quotes/backslashes in corpus tokens are inert
        val mergedCol = learned.lastOption match {
          case Some((_, a, b, _)) =>
            replace(col("wrapped"),
              lit(d + a + d + d + b + d), lit(d + a + "_" + b + d))
          case None => col("wrapped")
        }
        val next = cur.select(mergedCol.as("wrapped")).persist()
        val top = next.select(col("wrapped").as("m"))
          .withColumn("mtoks", expr(
            "split(substring(m, 2, length(m) - 2), chr(1) || chr(1))"))
          .filter(size(col("mtoks")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(mtoks) - 1),
              |  i -> array(element_at(mtoks, i), element_at(mtoks, i + 1)))"""
              .stripMargin)).as("pr"))
          .groupBy(expr("pr[0]").as("lhs"), expr("pr[1]").as("rhs"))
          .agg(count(lit(1)).as("pair_count"))
          .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
          .limit(1).collect()
        toRelease.foreach(_.unpersist())
        toRelease = Some(next)
        cur = next
        // early stop: an empty or sub-floor argmax ends the induction -
        // no further round can beat the floor (max is non-increasing)
        top.headOption match {
          case Some(row) if row.getLong(2) >= bpeSupportFloor =>
            learned = learned :+
              ((r.toLong, row.getString(0), row.getString(1), row.getLong(2)))
          case _ => stopped = true
        }
        r += 1
      }
    } finally {
      toRelease.foreach(_.unpersist())
      base.unpersist()
    }
    import spark.implicits._
    learned.toDF("round", "lhs", "rhs", "pair_count").orderBy("round")
  }

  /** DuckDB replay of the same `bpeRounds` merge rounds as nested CTEs:
    * each round's argmax is computed IN SQL (top-1 cross-joined back to
    * rewrite the stream), so the oracle learns the table independently
    * rather than trusting the Spark side's picks. The chain (w0..t_R)
    * is shared verbatim by the encode oracle, which extends it with an
    * apply pass over the doc_id-carrying corpus.
    */
  private def bpeChainCtes: String = {
    val sb = new StringBuilder
    sb ++= """w0 AS (
      |  SELECT chr(1) ||
      |    array_to_string(regexp_extract_all(text, '\S+'),
      |                    chr(1) || chr(1)) || chr(1) AS wrapped
      |  FROM documents
      |  WHERE len(regexp_extract_all(text, '\S+')) >= 2
      |)""".stripMargin
    for (r <- 1 to bpeRounds) {
      sb ++= s"""
        |, k$r AS (
        |  SELECT str_split(substring(wrapped, 2, length(wrapped) - 2),
        |                   chr(1) || chr(1)) AS toks
        |  FROM w${r - 1}
        |), p$r AS (
        |  SELECT pr[1] AS lhs, pr[2] AS rhs, count(*) AS pair_count
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(toks)),
        |                  i -> [toks[i], toks[i + 1]])) AS pr
        |    FROM k$r WHERE len(toks) >= 2
        |  ) GROUP BY 1, 2
        |), t$r AS (
        |  -- support floor = the early stop: a sub-floor argmax yields
        |  -- an EMPTY t, and the next round's CROSS JOIN t empties the
        |  -- corpus, so every later round is empty too - the SQL form
        |  -- of "stop once the best pair drops below the floor"
        |  SELECT lhs, rhs, pair_count FROM p$r
        |  WHERE pair_count >= $bpeSupportFloor
        |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
        |)""".stripMargin
      if (r < bpeRounds) sb ++= s"""
        |, w$r AS (
        |  SELECT replace(w.wrapped,
        |    chr(1) || t.lhs || chr(1) || chr(1) || t.rhs || chr(1),
        |    chr(1) || t.lhs || '_' || t.rhs || chr(1)) AS wrapped
        |  FROM w${r - 1} w CROSS JOIN t$r t
        |)""".stripMargin
    }
    sb.toString
  }

  val bpeLearnSql: String =
    "WITH " + bpeChainCtes + (1 to bpeRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, lhs, rhs, " +
        s"CAST(pair_count AS BIGINT) AS pair_count FROM t$r")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY round")

  // ---- txt_bpe_encode -----------------------------------------------

  /** End-to-end tokenizer APPLY with the LEARNED table - the second
    * half of the `txt_bpe_learn` story (where `txt_phrase_merge`
    * demonstrates the merge pass against a static literal table, this
    * runs learn → apply as one operator: the exact corpus-tokenize
    * step of a training-data pipeline). Emits per doc the raw token
    * count, the encoded token count, and the encoded stream itself, so
    * the gate certifies the full encoding - not a summary of it.
    *
    * The merge table is learned once and folded in as ≤`bpeRounds`
    * LITERALS (the driver/cluster line: 8 rows on the driver, the
    * corpus-scale apply distributed) - the same posture as the
    * classifier's weight vector and the Lloyd codebook. The apply is a
    * narrow codegen'd replace chain in table order over the
    * \x01-wrapped stream (left-to-right non-overlapping within each
    * pass, shared with learn/`txt_phrase_merge` semantics exactly):
    * zero shuffles beyond the learn it reuses. Zero-token docs are
    * excluded (nothing to encode); single-token docs pass through
    * unmerged. The oracle re-learns the table in SQL (the shared
    * `bpeChainCtes`) and re-applies it with LEFT JOIN + COALESCE per
    * round, so an early-stopped empty round is identity for the apply
    * (where the learn chain's CROSS JOIN correctly empties the
    * remaining LEARN stream).
    */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame =
    bpeApply(Graft.tableParallel(spark, sfDir, "documents"),
      learnedMergesFor(spark, sfDir))

  private[graft] def bpeEncodeFrom(docs: DataFrame,
                                   rounds: Int): DataFrame =
    bpeApply(docs, bpeLearnFrom(docs, rounds).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq)

  private def bpeApply(docs: DataFrame,
                       merges: Seq[(String, String)]): DataFrame = {
    val d = "\u0001"
    val merged = merges.foldLeft(col("wrapped")) { case (acc, (a, b)) =>
      replace(acc, lit(d + a + d + d + b + d), lit(d + a + "_" + b + d))
    }
    docs
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= 1)
      .withColumn("wrapped",
        expr("chr(1) || concat_ws(chr(1) || chr(1), toks) || chr(1)"))
      .withColumn("m", merged)
      .withColumn("enc_toks",
        expr("split(substring(m, 2, length(m) - 2), chr(1) || chr(1))"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_base"),
        size(col("enc_toks")).cast(LongType).as("n_enc"),
        concat_ws(" ", col("enc_toks")).as("enc"))
      .orderBy(col("doc_id"))
  }

  val bpeEncodeSql: String = {
    val sb = new StringBuilder
    sb ++= "WITH " + bpeChainCtes
    sb ++= """
      |, e0 AS (
      |  SELECT doc_id, len(toks) AS n_base,
      |    chr(1) || array_to_string(toks, chr(1) || chr(1)) || chr(1)
      |      AS wrapped
      |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 1
      |)""".stripMargin
    for (r <- 1 to bpeRounds) {
      sb ++= s"""
        |, e$r AS (
        |  SELECT e.doc_id, e.n_base,
        |    COALESCE(replace(e.wrapped,
        |      chr(1) || t.lhs || chr(1) || chr(1) || t.rhs || chr(1),
        |      chr(1) || t.lhs || '_' || t.rhs || chr(1)),
        |      e.wrapped) AS wrapped
        |  FROM e${r - 1} e LEFT JOIN t$r t ON TRUE
        |)""".stripMargin
    }
    sb ++= s"""
      |SELECT doc_id, CAST(n_base AS BIGINT) AS n_base,
      |  CAST(len(toks) AS BIGINT) AS n_enc,
      |  array_to_string(toks, ' ') AS enc
      |FROM (
      |  SELECT doc_id, n_base,
      |    str_split(substring(wrapped, 2, length(wrapped) - 2),
      |              chr(1) || chr(1)) AS toks
      |  FROM e$bpeRounds
      |)
      |ORDER BY doc_id""".stripMargin
    sb.toString
  }

  // ---- txt_fingerprint ----------------------------------------------

  /** Winnowing-style fingerprint: md5 over word 3-gram shingles, min
    * hash per sliding window of 4, distinct mins exploded to rows.
    * (Schleimer et al., "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003 - the standard near-copy sketch.)
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    fingerprintTier(spark, sfDir)

  /** Session-shared materialized fingerprint relation: the
    * txt_fingerprint face emits it and mm_caption_consistency's
    * caption axis reads the same materialization instead of re-running
    * the tokenize + winnowing pass (the SignatureStore tier
    * discipline).
    */
  private[graft] def fingerprintTier(spark: SparkSession,
                                     sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "txt-fingerprint")(
      fingerprintPlan(spark, sfDir))

  private def fingerprintPlan(spark: SparkSession, sfDir: String): DataFrame =
    Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= 6)
      .withColumn("hashes", expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> md5(concat_ws(' ', element_at(toks, i),
          |                     element_at(toks, i + 1),
          |                     element_at(toks, i + 2))))""".stripMargin))
      .withColumn("fp", explode(expr(
        """array_distinct(transform(sequence(1, size(hashes) - 3),
          |  i -> array_min(slice(hashes, i, 4))))""".stripMargin)))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"), col("fp"))

  val fingerprintSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
      |  FROM documents
      |  WHERE len(regexp_extract_all(text, '\S+')) >= 6
      |), h AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(toks) - 1),
      |      i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |      AS hashes
      |  FROM t
      |), w AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(hashes) - 2),
      |      i -> list_min(hashes[i:i+3]))) AS fps
      |  FROM h
      |)
      |SELECT doc_id, unnest(fps) AS fp FROM w
      |ORDER BY doc_id, fp""".stripMargin

  // ---- txt_unigram_nll ----------------------------------------------

  /** Statistical quality scoring: per-document mean negative
    * log-likelihood under the corpus's own add-1-smoothed unigram LM -
    * the classic "how surprising is this document" perplexity gate a
    * training pipeline runs (docs full of rare/garbage tokens score
    * high, formulaic boilerplate scores low).
    *
    * Shape at scale: one map-side-combinable term count (the vocab
    * relation is small → broadcasts back onto the token stream), then
    * one map-side-combinable LONG sum per doc_id. Parity: each token's
    * nll is quantized to INTEGER micro-nats (floor(x·1e6 + 0.5) as
    * BIGINT) before summing, so the per-document aggregation is exact
    * integer arithmetic - order-independent, partial-agg-friendly, and
    * immune to engine-level ln() last-ulp differences (which q6
    * absorbs per token); the only floating ops after that are the
    * identical final divisions on both engines.
    */
  def unigramNll(spark: SparkSession, sfDir: String): DataFrame = {
    // the token stream reads the session tier (one regexp pass per
    // corpus shared family-wide; this face alone used to tokenize
    // twice - freq and the scoring join each re-derived it)
    val toks = lmDocToks(spark, sfDir)
      .select(col("doc_id"), explode(col("ts")).as("term"))
    val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val totals = freq.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("v_size"))
    toks.join(broadcast(freq), "term")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), expr(
        """CAST(floor(-ln(CAST(cnt + 1 AS DOUBLE)
          |  / CAST(n_total + v_size AS DOUBLE)) * 1000000.0 + 0.5)
          |  AS BIGINT)""".stripMargin).as("nll_u"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nll_u")).as("sum_u"), count(lit(1)).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        ParityMath.q6((col("sum_u").cast("double") / lit(1000000.0))
          / col("n_tok")).as("nll"))
      .orderBy(col("doc_id"))
  }

  val unigramNllSql: String =
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
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |  ${ParityMath.q6Sql(
            "(CAST(sum(nll_u) AS DOUBLE) / 1000000.0) / count(*)")}
       |    AS nll
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- txt_tfidf ------------------------------------------------------

  /** Per-document top-3 characteristic terms by TF-IDF - the classic
    * keyword/topic signal a curation pipeline uses for corpus
    * composition reports and per-source content drift. Parity scheme:
    * idf is quantized to INTEGER micro-nats (floor(ln(N/df)·1e6 + 0.5)
    * as BIGINT, same trick as the NLL gates), so the per-doc ranking
    * key is the pure integer c·idf_u - the 1/n_tok tf normalization is
    * constant within a doc and cannot reorder it - and the top-3 pick
    * is integer-deterministic (score desc, term asc), immune to ln()
    * last-ulp drift; doubles appear only in the final reported score,
    * q6-rounded identically on both engines.
    *
    * Shape at scale: one map-combined (doc_id, term) count, one
    * map-combined df agg on the vocabulary-sized relation (broadcasts
    * back), then a single doc_id-keyed window pass where BOTH the
    * n_tok sum and the rank share one exchange+sort; the row_number
    * group-limit is the engine-wide TopKWindowRewrite's target, so the
    * per-doc state is a bounded k-heap, never a full sort.
    */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = lmDocToks(spark, sfDir)
      .select(col("doc_id"), explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    tfidfFrom(tf)
  }

  /** Scoring over any per-(doc, term) count relation — shared by the
    * batch face and the incremental store face (whose stored per-batch
    * tf partials union to exactly this relation), so the idf/ranking
    * math cannot drift between them.
    */
  private[graft] def tfidfFrom(tf: DataFrame): DataFrame = {
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ndocs = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val idf = dfq.crossJoin(broadcast(ndocs))
      .select(col("term"), expr(
        """CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
          |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin).as("idf_u"))
    val wdoc = Window.partitionBy(col("doc_id"))
    val wrank = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_u").desc, col("term"))
    tf.join(broadcast(idf), "term")
      .withColumn("score_u", col("c") * col("idf_u"))
      .withColumn("n_tok", sum(col("c")).over(wdoc))
      .withColumn("rk", row_number().over(wrank).cast(LongType))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("rk"),
        ParityMath.q6((col("score_u").cast("double") / lit(1000000.0)) /
          col("n_tok").cast("double")).as("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val tfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS c FROM toks GROUP BY doc_id, term
       |), dfq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), nd AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs FROM tf
       |), idf AS (
       |  SELECT term,
       |    CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
       |      * 1000000.0 + 0.5) AS BIGINT) AS idf_u
       |  FROM dfq CROSS JOIN nd
       |), scored AS (
       |  SELECT t.doc_id, t.term, t.c * i.idf_u AS score_u,
       |    sum(t.c) OVER (PARTITION BY t.doc_id) AS n_tok,
       |    row_number() OVER (PARTITION BY t.doc_id
       |      ORDER BY t.c * i.idf_u DESC, t.term) AS rk
       |  FROM tf t JOIN idf i USING (term)
       |)
       |SELECT doc_id, term, CAST(rk AS BIGINT) AS rk,
       |  ${ParityMath.q6Sql(
            "(CAST(score_u AS DOUBLE) / 1000000.0) / CAST(n_tok AS DOUBLE)")}
       |    AS tfidf
       |FROM scored WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin

  // ---- txt_bm25 -------------------------------------------------------

  /** The retrieval query the BM25/hybrid faces score against - a
    * LITERAL term set (the langMarkers/funnelSteps posture: the query
    * is a parameter; what's gated is the scoring math), mixing one
    * rare corpus term with common ones so idf spread is exercised.
    */
  val bm25QueryTerms: Seq[String] = Seq("dup", "vector", "query",
    "join", "batch")
  val bm25TopK = 20

  /** BM25 document scoring (Robertson-Spärck Jones, with the Lucene
    * +1 idf floor so very common terms contribute small-positive, not
    * negative) - the lexical half of hybrid retrieval, next to
    * `txt_tfidf`'s per-doc keyword report. k1 = 1.2, b = 0.75.
    *
    * Parity scheme: idf quantizes to integer micro-nats (the tfidf/NLL
    * discipline); the tf saturation c·(k1+1)/(c + k1(1−b) + k1·b·dl/avgdl)
    * is made exact by clearing denominators with avgdl = S/N:
    * num = 22·c·S, den = 10·c·S + 3·S + 9·dl·N - both exact BIGINTs
    * (< 2^53 for corpora to ~8·10^8 tokens, well past the gate SFs;
    * a 100 TB run lifts to DECIMAL(38,0)) - so each term's
    * contribution floor(idf_u·(num/den) + 0.5) is one identically-
    * rounded IEEE product per engine, and the per-doc score is an
    * ORDER-FREE integer sum. Ranking key (score_u desc, doc_id asc)
    * is pure integer.
    *
    * 100 TB shape: one narrow token fan-out filtered to the query
    * terms BEFORE the (doc, term) count (the explode carries ≤|Q|
    * rows per doc), df/N/S are vocabulary- and 1-row-sized aggregates
    * broadcast back, and the global top-k is a bounded
    * TakeOrderedAndProject - the corpus is never sorted.
    */
  private[graft] def bm25Scored(spark: SparkSession,
                                sfDir: String): DataFrame = {
    val ql = bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    val docs = Graft.tableParallel(spark, sfDir, "documents")
      .select(col("doc_id"), expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"),
        col("toks"))
    val tf = docs
      .select(col("doc_id"), col("dl"),
        explode(expr(s"filter(toks, t -> t IN ($ql))")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("c"))
    bm25FromParts(docs.select(col("doc_id"), col("dl")), tf)
  }

  /** BM25 scoring over any (doc_id, dl) + (doc_id, dl, term, c)
    * relation pair - shared by the batch face and the streaming
    * face's final-snapshot view, so the idf/saturation math cannot
    * drift between them. `docLens` must carry EVERY doc (zero-hit
    * docs contribute to N and S); `tf` only the query-term hits.
    */
  private[graft] def bm25FromParts(docLens: DataFrame,
                                   tf: DataFrame): DataFrame = {
    val stats = docLens.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("s_toks"))
    val dfq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val idf = dfq.crossJoin(broadcast(stats))
      .select(col("term"), col("n_docs"), col("s_toks"), expr(
        """CAST(floor(ln(1.0 +
          |  (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
          |  / (CAST(df AS DOUBLE) + 0.5)) * 1000000.0 + 0.5)
          |AS BIGINT)""".stripMargin).as("idf_u"))
    tf.join(broadcast(idf), "term")
      .withColumn("contrib_u", expr(
        """CAST(floor(CAST(idf_u AS DOUBLE) *
          |  (CAST(22 * c * s_toks AS DOUBLE)
          |   / CAST(10 * c * s_toks + 3 * s_toks + 9 * dl * n_docs
          |          AS DOUBLE)) + 0.5) AS BIGINT)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_u")).as("score_u"))
  }

  /** The ranked top-k report over any scored relation - shared by the
    * batch and streaming faces.
    */
  private[graft] def bm25Report(scored: DataFrame): DataFrame = {
    val top = scored
      .orderBy(col("score_u").desc, col("doc_id")).limit(bm25TopK)
    // rank over the <=bm25TopK-row TakeOrdered output: bounded by a
    // constant, so the empty-partition window is a 20-row formality
    val w = Window.orderBy(col("score_u").desc, col("doc_id"))
    top.withColumn("rk", row_number().over(w).cast(LongType))
      .select(col("rk"), col("doc_id"),
        ParityMath.q6(col("score_u").cast("double") / lit(1000000.0))
          .as("bm25"))
      .orderBy(col("rk"))
  }

  def bm25(spark: SparkSession, sfDir: String): DataFrame =
    bm25Report(bm25Scored(Graft.ensureConf(spark), sfDir))

  private def bm25ScoredCtes: String = {
    val ql = bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""d AS (
       |  SELECT doc_id,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents
       |), dd AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d
       |), stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS BIGINT) AS s_toks
       |  FROM dd
       |), tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS c
       |  FROM (
       |    SELECT doc_id, dl,
       |      unnest(list_filter(toks, t -> t IN ($ql))) AS term
       |    FROM dd
       |  ) GROUP BY 1, 2, 3
       |), dfq AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(list_distinct(toks), t -> t IN ($ql)))
       |        AS term
       |    FROM dd
       |  ) GROUP BY 1
       |), idf AS (
       |  SELECT term, n_docs, s_toks,
       |    CAST(floor(ln(1.0 +
       |      (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |      / (CAST(df AS DOUBLE) + 0.5)) * 1000000.0 + 0.5)
       |    AS BIGINT) AS idf_u
       |  FROM dfq CROSS JOIN stats
       |), scored AS (
       |  SELECT tf.doc_id,
       |    CAST(sum(CAST(floor(CAST(idf_u AS DOUBLE) *
       |      (CAST(22 * c * s_toks AS DOUBLE)
       |       / CAST(10 * c * s_toks + 3 * s_toks + 9 * dl * n_docs
       |              AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT)
       |      AS score_u
       |  FROM tf JOIN idf USING (term)
       |  GROUP BY 1
       |)""".stripMargin
  }

  val bm25Sql: String =
    s"""WITH $bm25ScoredCtes
       |SELECT CAST(row_number() OVER (ORDER BY score_u DESC, doc_id)
       |         AS BIGINT) AS rk,
       |  doc_id,
       |  ${ParityMath.q6Sql("CAST(score_u AS DOUBLE) / 1000000.0")}
       |    AS bm25
       |FROM scored
       |ORDER BY rk LIMIT $bm25TopK""".stripMargin

  // ---- q_hybrid_rrf ---------------------------------------------------

  /** RRF constant (Cormack et al. 2009's K = 60) and list sizes. */
  val rrfK = 60
  val hybridListLen = 50
  val hybridTopK = 20

  /** HYBRID retrieval via reciprocal-rank fusion - the standard RAG
    * pattern: the BM25 lexical list and a vector-similarity list
    * (cosine against the query embedding, here vec_id 0's vector ≙
    * the embedded query; embeddings key by vec_id ≙ doc_id) fused as
    * score = Σ_lists 1/(K + rank). Rank fusion is exactly what makes
    * hybrid robust: absolute scores from different models are
    * incomparable, ranks always are - and a doc missing from one
    * list (the vector index covers a corpus subset; a lexical miss
    * has no query term) just contributes nothing for that list.
    *
    * Parity: each list's rank is integer-deterministic (key desc,
    * id asc); 1/(K+r) quantizes per list to floor(1e6/(K+r) + 0.5) -
    * one identically-rounded IEEE division - and the fusion is an
    * order-free integer sum. 100 TB shape: both lists are bounded
    * TakeOrdered outputs (the corpus is scanned, never sorted), the
    * fusion joins two ≤`hybridListLen`-row relations.
    */
  /** The BM25 lexical top-n list as (doc_id, text_rank) — shared by
    * the fusion and eval faces. Rank over the ≤n-row TakeOrdered
    * output: the empty-partition window is an n-row formality.
    */
  /** The ≤n-row ranked retrieval lists, memoized per (session, corpus,
    * list, n): txt_bm25/q_hybrid_rrf/q_retrieval_eval each re-ran the
    * corpus-scale BM25 tokenize+score (and the full-corpus cosine
    * scan) to rebuild the SAME bounded list — q_retrieval_eval twice,
    * once directly and once inside its hybrid leg. The memoized
    * relation is TakeOrdered-bounded (≤ 50 rows), the classic
    * "materialize the candidate list between retrieval stages" step.
    */
  private def memoList(spark: SparkSession, sfDir: String, id: String)
                      (build: => DataFrame): DataFrame =
    Memo(spark, sfDir, ("ranked-list", id))(build.localCheckpoint())

  private[graft] def textList(spark: SparkSession, sfDir: String,
                              n: Int): DataFrame =
    memoList(spark, sfDir, s"text-$n") {
      val w = Window.orderBy(col("score_u").desc, col("doc_id"))
      bm25Scored(spark, sfDir)
        .orderBy(col("score_u").desc, col("doc_id")).limit(n)
        .withColumn("text_rank", row_number().over(w).cast(LongType))
        .select(col("doc_id"), col("text_rank"))
    }

  /** The query-embedding cosine top-n list as (doc_id, vec_rank) —
    * shared by the fusion and eval faces.
    */
  private[graft] def vecList(spark: SparkSession, sfDir: String,
                             n: Int): DataFrame =
    memoList(spark, sfDir, s"vec-$n") {
      val e = Graft.tableParallel(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val qv = e.filter(col("vec_id") === 0L)
        .select(col("embedding").as("q_emb"))
      val w = Window.orderBy(col("sim").desc, col("doc_id"))
      e.crossJoin(broadcast(qv))
        .withColumn("sim", ParityMath.q6(
          expr(Similarity.cosSpark("embedding", "q_emb"))))
        .select(col("vec_id").as("doc_id"), col("sim"))
        .orderBy(col("sim").desc, col("doc_id")).limit(n)
        .withColumn("vec_rank", row_number().over(w).cast(LongType))
        .select(col("doc_id"), col("vec_rank"))
    }

  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    val text = textList(s2, sfDir, hybridListLen)
    val vec = vecList(s2, sfDir, hybridListLen)
    val wFuse = Window.orderBy(col("rrf_u").desc, col("doc_id"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_u", expr(
        s"""CAST(floor(1000000.0 / ($rrfK + coalesce(text_rank, 0))
           |  + 0.5) AS BIGINT) * CAST(text_rank IS NOT NULL AS BIGINT)
           | + CAST(floor(1000000.0 / ($rrfK + coalesce(vec_rank, 0))
           |  + 0.5) AS BIGINT) * CAST(vec_rank IS NOT NULL AS BIGINT)"""
          .stripMargin))
      .orderBy(col("rrf_u").desc, col("doc_id")).limit(hybridTopK)
      .withColumn("rk", row_number().over(wFuse).cast(LongType))
      .select(col("rk"), col("doc_id"),
        ParityMath.q6(col("rrf_u").cast("double") / lit(1000000.0))
          .as("rrf"),
        col("text_rank"), col("vec_rank"))
      .orderBy(col("rk"))
  }

  /** The fusion CTE chain (text/vector lists + RRF scores) — shared by
    * the hybrid face's oracle and the retrieval-eval oracle, so the
    * list construction cannot drift between them.
    */
  private def hybridCtes: String =
    s"""text AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score_u DESC, doc_id)
       |      AS BIGINT) AS text_rank
       |  FROM scored
       |  ORDER BY score_u DESC, doc_id LIMIT $hybridListLen
       |), qv AS (
       |  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
       |), vecl AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
       |      AS BIGINT) AS vec_rank
       |  FROM (
       |    SELECT e.vec_id AS doc_id,
       |      ${ParityMath.q6Sql(
             graft.pipeline.Similarity.cosDuck("e.embedding", "q.q_emb"))}
       |        AS sim
       |    FROM embeddings e CROSS JOIN qv q
       |  )
       |  ORDER BY sim DESC, doc_id LIMIT $hybridListLen
       |), fused AS (
       |  SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
       |    t.text_rank, v.vec_rank,
       |    coalesce(CAST(floor(1000000.0 / ($rrfK + t.text_rank) + 0.5)
       |             AS BIGINT), 0)
       |    + coalesce(CAST(floor(1000000.0 / ($rrfK + v.vec_rank) + 0.5)
       |               AS BIGINT), 0) AS rrf_u
       |  FROM text t FULL OUTER JOIN vecl v ON t.doc_id = v.doc_id
       |)""".stripMargin

  val hybridRrfSql: String =
    s"""WITH $bm25ScoredCtes, $hybridCtes
       |SELECT CAST(row_number() OVER (ORDER BY rrf_u DESC, doc_id)
       |         AS BIGINT) AS rk,
       |  doc_id,
       |  ${ParityMath.q6Sql("CAST(rrf_u AS DOUBLE) / 1000000.0")} AS rrf,
       |  text_rank, vec_rank
       |FROM fused
       |ORDER BY rk LIMIT $hybridTopK""".stripMargin

  // ---- q_retrieval_eval -----------------------------------------------

  /** Metrics cutoff for P@k and nDCG@k. */
  val retrievalEvalK = 10

  /** Retrieval quality scorecard — Precision@10, MRR, and binary-gain
    * nDCG@10 for each of the three retrieval faces (lexical BM25,
    * query-embedding cosine, RRF hybrid) against a deterministic
    * relevance set: the CONJUNCTIVE-match docs (all five query terms
    * present). The eval-family member for retrieval, next to
    * `ann_recall_eval` (recall of the index vs brute force),
    * `txt_langid_eval` (confusion matrix) and `pipe_qclf_eval`
    * (held-out AUC): the numbers a RAG pipeline actually watches when
    * it tunes k1/b, the fusion constant, or the embedding model.
    *
    * Parity scheme: every metric is integer until its final division —
    * rank positions are integer-deterministic from the gated list
    * faces; 1/rank and 1/log2(rank+1) quantize per position to
    * micro-units (one identically-rounded IEEE op each); DCG/IDCG are
    * order-free integer sums (IDCG folds over sequence(1, min(|rel|,
    * k)) in-row); P@10 divides a hit count by the constant k. q6 on
    * the way out, the house rule.
    *
    * 100 TB shape: the three lists are bounded TakeOrdered outputs of
    * already-audited faces (≤20 rows each); the relevance flag is one
    * narrow corpus scan (pushed projection of doc_id + the in-row
    * distinct-term intersect); everything after the list∪rel join
    * touches ≤60 rows.
    */
  def retrievalEval(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = Graft.ensureConf(spark)
    val k = retrievalEvalK
    val ql = bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    val rel = Graft.tableParallel(s2, sfDir, "documents")
      .select(col("doc_id"), expr(
        s"""size(array_intersect(array_distinct(
           |  regexp_extract_all(lower(text), '[a-z0-9]+', 0)),
           |  array($ql)))""".stripMargin).as("nq"))
      .filter(col("nq") === bm25QueryTerms.size)
      .select(col("doc_id"), lit(1L).as("rel"))
    val nrel = rel.agg(count(lit(1)).as("n_rel"))
    val lists = textList(s2, sfDir, bm25TopK)
        .select(lit("bm25").as("lst"), col("text_rank").as("rk"),
          col("doc_id"))
      .unionAll(vecList(s2, sfDir, bm25TopK)
        .select(lit("vector").as("lst"), col("vec_rank").as("rk"),
          col("doc_id")))
      .unionAll(hybridRrf(s2, sfDir)
        .select(lit("hybrid").as("lst"), col("rk"), col("doc_id")))
    lists.join(broadcast(rel), Seq("doc_id"), "left")
      .withColumn("r", coalesce(col("rel"), lit(0L)))
      .groupBy(col("lst"))
      .agg(sum(col("r")).as("hits"),
        sum(when(col("rk") <= k, col("r")).otherwise(lit(0L)))
          .as("hits_k"),
        min(when(col("r") === 1L, col("rk"))).as("first_rel"),
        sum(when(col("r") === 1L && col("rk") <= k, expr(
          """CAST(floor(1000000.0 / log2(CAST(rk + 1 AS DOUBLE)) + 0.5)
            |AS BIGINT)""".stripMargin)).otherwise(lit(0L))).as("dcg_u"))
      .crossJoin(broadcast(nrel))
      // CASE-guarded: Spark's sequence(1, 0) DESCENDS instead of being
      // empty, so an empty relevance set must short-circuit to 0 (the
      // oracle's range(1, 1) is empty and coalesces to 0 on its own)
      .withColumn("idcg_u", expr(
        s"""CASE WHEN n_rel = 0 THEN 0L ELSE
           |aggregate(sequence(1, CAST(least(n_rel, $k) AS INT)), 0L,
           |  (acc, i) -> acc + CAST(floor(1000000.0
           |    / log2(CAST(i + 1 AS DOUBLE)) + 0.5) AS BIGINT))
           |END""".stripMargin))
      .select(col("lst"), col("hits"),
        ParityMath.q6(col("hits_k").cast("double") / lit(k.toDouble))
          .as("p_at_k"),
        ParityMath.q6(expr(
          """CASE WHEN first_rel IS NULL THEN 0.0
            |ELSE floor(1000000.0 / CAST(first_rel AS DOUBLE) + 0.5)
            |     / 1000000.0 END""".stripMargin)).as("mrr"),
        ParityMath.q6(expr(
          """CASE WHEN idcg_u = 0 THEN 0.0
            |ELSE CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE)
            |END""".stripMargin)).as("ndcg"))
      .orderBy(col("lst"))
  }

  val retrievalEvalSql: String = {
    val k = retrievalEvalK
    val ql = bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH $bm25ScoredCtes, $hybridCtes,
       |hyb AS (
       |  SELECT CAST(row_number() OVER (ORDER BY rrf_u DESC, doc_id)
       |           AS BIGINT) AS rk, doc_id
       |  FROM fused ORDER BY rk LIMIT $hybridTopK
       |), rel AS (
       |  SELECT doc_id, CAST(1 AS BIGINT) AS rel FROM documents
       |  WHERE len(list_filter(list_distinct(
       |      regexp_extract_all(lower(text), '[a-z0-9]+')),
       |      t -> t IN ($ql))) = ${bm25QueryTerms.size}
       |), nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM rel),
       |lists AS (
       |  SELECT 'bm25' AS lst, text_rank AS rk, doc_id FROM text
       |  WHERE text_rank <= $bm25TopK
       |  UNION ALL
       |  SELECT 'vector' AS lst, vec_rank AS rk, doc_id FROM vecl
       |  WHERE vec_rank <= $bm25TopK
       |  UNION ALL
       |  SELECT 'hybrid' AS lst, rk, doc_id FROM hyb
       |), agg AS (
       |  SELECT lst,
       |    CAST(sum(coalesce(r.rel, 0)) AS BIGINT) AS hits,
       |    CAST(sum(CASE WHEN l.rk <= $k THEN coalesce(r.rel, 0)
       |             ELSE 0 END) AS BIGINT) AS hits_k,
       |    min(CASE WHEN r.rel = 1 THEN l.rk END) AS first_rel,
       |    CAST(sum(CASE WHEN r.rel = 1 AND l.rk <= $k THEN
       |      CAST(floor(1000000.0 / log2(CAST(l.rk + 1 AS DOUBLE)) + 0.5)
       |      AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_u
       |  FROM lists l LEFT JOIN rel r USING (doc_id)
       |  GROUP BY lst
       |), withi AS (
       |  SELECT a.*, (
       |    SELECT coalesce(CAST(sum(CAST(floor(1000000.0
       |      / log2(CAST(i + 1 AS DOUBLE)) + 0.5) AS BIGINT))
       |      AS BIGINT), 0)
       |    FROM unnest(range(1, least(n.n_rel, $k) + 1)) u(i)
       |  ) AS idcg_u
       |  FROM agg a CROSS JOIN nrel n
       |)
       |SELECT lst, hits,
       |  ${ParityMath.q6Sql(s"CAST(hits_k AS DOUBLE) / $k.0")} AS p_at_k,
       |  ${ParityMath.q6Sql(
           """CASE WHEN first_rel IS NULL THEN 0.0
             |ELSE floor(1000000.0 / CAST(first_rel AS DOUBLE) + 0.5)
             |     / 1000000.0 END""".stripMargin)} AS mrr,
       |  ${ParityMath.q6Sql(
           """CASE WHEN idcg_u = 0 THEN 0.0
             |ELSE CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE)
             |END""".stripMargin)} AS ndcg
       |FROM withi ORDER BY lst""".stripMargin
  }

  // ---- txt_bigram_nll ------------------------------------------------

  /** Context-aware statistical quality gate: per-doc mean NLL under an
    * add-1 BIGRAM LM trained on the corpus itself -
    * P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). Catches fluent-word-salad
    * documents the unigram gate scores as normal (every token common,
    * no token PAIR ever seen) - the standard second signal next to
    * `txt_unigram_nll`.
    *
    * 100 TB shape: per-bigram scores are computed VOCAB-SIDE first
    * (bigram counts joined with unigram counts + V on the
    * bigram-vocabulary-sized relation, never the corpus), so the
    * corpus-token-sized bigram stream pays exactly ONE keyed join
    * against the scored vocabulary plus one doc-keyed sum. Unlike the
    * unigram gate's broadcast, the bigram vocabulary at corpus scale
    * outgrows a broadcast hash relation - the join keys on (w1, w2),
    * which is also the skew-safe key (hot unigrams spread across their
    * successor set). Per-position NLLs are floor-quantized to integer
    * micro-nats BEFORE the per-doc sum, so ln() last-ulp differences
    * cannot accumulate across summation orders (the txt_unigram_nll
    * parity argument).
    */
  def bigramNll(spark: SparkSession, sfDir: String): DataFrame =
    bigramNllFromToks(lmBigramToks(spark, sfDir))

  /** Session-shared materialized LM token relation (the `[a-z0-9]+`
    * lowercase tokenization the whole text-statistics family runs):
    * tokenize the corpus ONCE per (session, corpus) — before this,
    * txt_bigram_nll alone re-ran the regexp pass three times (ufreq,
    * bfreq, and the scoring join each re-derived it) and the
    * backoff/KN/PMI/unigram/tfidf/keyphrase/entropy/zipf/heaps/
    * vocab-coverage/jsd faces each re-tokenized again. Carries
    * `source` so the drift face can ride it too. The `size >= 1`
    * filter is the weakest of the faces' gates and is TRANSPARENT to
    * every consumer (each either explodes `ts` — a zero-token doc
    * contributes no rows either way — or layers its own stricter
    * filter); at 100 TB this relation is exactly the tokenized table
    * a pipeline writes between stages.
    */
  private[graft] def lmDocToks(spark: SparkSession,
                               sfDir: String): DataFrame =
    SignatureStore.tier(spark, sfDir, "lm-toks")(
      Graft.tableParallel(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
        .filter(size(col("ts")) >= 1))

  /** The bigram faces' gate (>= 2 LM tokens) over the shared tier. */
  private def lmBigramToks(spark: SparkSession,
                           sfDir: String): DataFrame =
    lmDocToks(spark, sfDir).filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("ts"))

  /** The gate's tokenization, shared verbatim with the incremental
    * store (`SignatureStore.catchUpLm2`) so the faces cannot drift:
    * docs with >= 2 LM tokens, and their in-row bigram stream.
    */
  private[graft] def bigramDocToks(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
      .filter(size(col("ts")) >= 2)

  private[graft] def bigramPairs(docToks: DataFrame): DataFrame =
    docToks.select(col("doc_id"), explode(expr(
      """zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1),
        |  (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  private[graft] def bigramNllFrom(documents: DataFrame): DataFrame =
    bigramNllFromToks(bigramDocToks(documents))

  private[graft] def bigramNllFromToks(docs: DataFrame): DataFrame = {
    val bigrams = bigramPairs(docs)
    val ufreq = docs.select(explode(col("ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cu"))
    val totals = ufreq.agg(count(lit(1)).as("v_size"))
    val bfreq = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    // vocab-side scoring: bigram-vocabulary-sized, corpus never touched
    val scoredVocab = bfreq
      .join(ufreq.withColumnRenamed("term", "w1"), "w1")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), expr(
        """CAST(floor(-ln(CAST(cb + 1 AS DOUBLE)
          |  / CAST(cu + v_size AS DOUBLE)) * 1000000.0 + 0.5)
          |  AS BIGINT)""".stripMargin).as("nll_b"))
    bigrams.join(scoredVocab, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nll_b")).as("sum_b"), count(lit(1)).as("n_big"))
      .select(col("doc_id"), col("n_big"),
        ParityMath.q6((col("sum_b").cast("double") / lit(1000000.0))
          / col("n_big")).as("nll2"))
      .orderBy(col("doc_id"))
  }

  val bigramNllSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents
       |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2
       |), bigrams AS (
       |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM d, unnest(range(1, len(ts))) u(i)
       |), ufreq AS (
       |  SELECT term, count(*) AS cu FROM (
       |    SELECT unnest(ts) AS term FROM d
       |  ) GROUP BY term
       |), totals AS (
       |  SELECT count(*) AS v_size FROM ufreq
       |), bfreq AS (
       |  SELECT w1, w2, count(*) AS cb FROM bigrams GROUP BY w1, w2
       |), scored_vocab AS (
       |  SELECT b.w1, b.w2,
       |    CAST(floor(-ln(CAST(b.cb + 1 AS DOUBLE)
       |      / CAST(u.cu + t.v_size AS DOUBLE)) * 1000000.0 + 0.5)
       |      AS BIGINT) AS nll_b
       |  FROM bfreq b JOIN ufreq u ON u.term = b.w1 CROSS JOIN totals t
       |)
       |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_big,
       |  ${ParityMath.q6Sql(
            "(CAST(sum(s.nll_b) AS DOUBLE) / 1000000.0) / count(*)")}
       |    AS nll2
       |FROM bigrams g JOIN scored_vocab s
       |  ON s.w1 = g.w1 AND s.w2 = g.w2
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---- txt_kn_nll ------------------------------------------------------

  /** Interpolated KNESER–NEY bigram NLL (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form, fixed discount D = 3/4) — the
    * proper-smoothing upgrade over the add-1 gate (`txt_bigram_nll`)
    * and the stupid-backoff scorer: the backoff mass goes to the
    * CONTINUATION unigram (in how many distinct contexts does w2
    * appear?), not the raw frequency — the distinction that stops
    * "Francisco" (frequent but one-context) from soaking up held-out
    * mass. P(w2|w1) = (max(c(w1w2)−D, 0) + D·N₁₊(w1·)·P_cont(w2)) /
    * c(w1·), P_cont(w2) = N₁₊(·w2)/N_bb — every input an exact
    * integer off the bigram count relation (row sums, distinct
    * successor/predecessor type counts, the bigram-type total); the
    * probability itself is ONE pinned double chain (identical
    * expression text in both engines — the psi-term discipline) and
    * each position quantizes to integer micro-nats BEFORE the per-doc
    * sum (the NLL family's parity argument).
    *
    * 100 TB shape: txt_bigram_nll's exactly — scores computed
    * VOCAB-SIDE (three keyed aggregations of the bigram-vocabulary-
    * sized relation + one 1-row broadcast), the corpus-token-sized
    * bigram stream pays one (w1, w2)-keyed join + one doc-keyed sum.
    */
  def knNll(spark: SparkSession, sfDir: String): DataFrame =
    knNllFromToks(lmBigramToks(spark, sfDir))

  /** The pinned probability/NLL chain — ONE text, spliced into the
    * Spark plan, the DuckDB oracle, and the store face.
    */
  private[graft] val knNllChain: String =
    """CAST(floor(-ln(
      |  (greatest(CAST(cb AS DOUBLE) - 0.75, 0.0)
      |   + (0.75 * CAST(n1p AS DOUBLE))
      |     * (CAST(n1c AS DOUBLE) / CAST(nbb AS DOUBLE)))
      |  / CAST(r AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)""".stripMargin

  /** Vocab-side KN scoring of any (w1, w2, cb) bigram count relation —
    * shared by the batch face and the incremental store (whose
    * additive lm2 partials sum to exactly this relation).
    */
  private[graft] def knScoredVocab(bfreq: DataFrame): DataFrame = {
    val bf = bfreq.localCheckpoint()
    val rr = bf.groupBy(col("w1"))
      .agg(sum(col("cb")).as("r"), countDistinct(col("w2")).as("n1p"))
    val cc = bf.groupBy(col("w2"))
      .agg(countDistinct(col("w1")).as("n1c"))
    val tot = bf.agg(count(lit(1)).as("nbb"))
    bf.join(rr, "w1").join(cc, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), expr(knNllChain).as("nll_kn_b"))
  }

  private[graft] def knNllFrom(documents: DataFrame): DataFrame =
    knNllFromToks(bigramDocToks(documents))

  private[graft] def knNllFromToks(docs: DataFrame): DataFrame = {
    val bigrams = bigramPairs(docs)
    val bfreq = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    bigrams.join(knScoredVocab(bfreq), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nll_kn_b")).as("sum_b"), count(lit(1)).as("n_big"))
      .select(col("doc_id"), col("n_big"),
        ParityMath.q6((col("sum_b").cast("double") / lit(1000000.0))
          / col("n_big")).as("nll_kn"))
      .orderBy(col("doc_id"))
  }

  val knNllSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents
       |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2
       |), bigrams AS (
       |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM d, unnest(range(1, len(ts))) u(i)
       |), bfreq AS MATERIALIZED (
       |  SELECT w1, w2, count(*) AS cb FROM bigrams GROUP BY w1, w2
       |), rr AS (
       |  SELECT w1, CAST(sum(cb) AS BIGINT) AS r,
       |         CAST(count(DISTINCT w2) AS BIGINT) AS n1p
       |  FROM bfreq GROUP BY 1
       |), cc AS (
       |  SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS n1c
       |  FROM bfreq GROUP BY 1
       |), tt AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM bfreq),
       |sv AS (
       |  SELECT b.w1, b.w2,
       |    CAST(floor(-ln(
       |      (greatest(CAST(b.cb AS DOUBLE) - 0.75, 0.0)
       |       + (0.75 * CAST(rr.n1p AS DOUBLE))
       |         * (CAST(cc.n1c AS DOUBLE) / CAST(tt.nbb AS DOUBLE)))
       |      / CAST(rr.r AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |      AS nll_kn_b
       |  FROM bfreq b JOIN rr ON rr.w1 = b.w1 JOIN cc ON cc.w2 = b.w2
       |  CROSS JOIN tt
       |)
       |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_big,
       |  ${ParityMath.q6Sql(
            "(CAST(sum(s.nll_kn_b) AS DOUBLE) / 1000000.0) / count(*)")}
       |    AS nll_kn
       |FROM bigrams g JOIN sv s
       |  ON s.w1 = g.w1 AND s.w2 = g.w2
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---- txt_pmi: collocation mining ------------------------------------

  /** Support floor (a hapax pair's PMI is pure noise — the classic
    * Church & Hanks caveat) and the report size.
    */
  val pmiMinCount = 5L
  val pmiTopK = 20

  /** Pointwise-mutual-information COLLOCATIONS (Church & Hanks 1990)
    * over adjacent token bigrams — the phrase-mining member of the
    * text family (tfidf ranks what's characteristic of a DOCUMENT;
    * this ranks which word PAIRS belong together corpus-wide: the
    * signal behind multi-word-token vocabularies and template
    * detection). All probabilities come from the bigram table itself
    * (row marginal r(a) = Σ_b c(ab), column marginal s(b), N = Σ
    * c(ab)), so PMI = ln(c·N / (r·s)) is a ratio of exact integer
    * counts; it quantizes to integer micro-nats (the NLL family's
    * floor(x·1e6 + 0.5) scheme) and the top-k order
    * (pmi DESC, w1, w2) is total. Pairs below `pmiMinCount` are
    * excluded BEFORE ranking.
    *
    * Shape at scale: the corpus is touched ONCE (in-row zip_with
    * bigram stream → map-combinable (w1,w2) count); marginals and N
    * fold from the bigram-vocabulary-sized relation, which is
    * materialized once and joined keyed — no second scan, no window;
    * the report is a TakeOrdered over the support-filtered vocab.
    */
  def pmi(spark: SparkSession, sfDir: String): DataFrame =
    pmiFromToks(lmBigramToks(spark, sfDir))

  /** PMI over any per-(w1, w2) bigram count relation — shared by the
    * batch face and the incremental store face (whose stored per-batch
    * bigram partials sum to exactly this relation).
    */
  private[graft] def pmiFromCounts(bf0: DataFrame): DataFrame = {
    val bf = bf0.localCheckpoint()
    val left = bf.groupBy(col("w1")).agg(sum(col("cb")).as("r"))
    val right = bf.groupBy(col("w2")).agg(sum(col("cb")).as("s"))
    val n = bf.agg(sum(col("cb")).as("nb"))
    bf.filter(col("cb") >= pmiMinCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("cb"), expr(
        """CAST(floor(ln((CAST(cb AS DOUBLE) * CAST(nb AS DOUBLE))
          |  / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE))) * 1000000.0
          |  + 0.5) AS BIGINT)""".stripMargin).as("pmi_mu"))
      .orderBy(col("pmi_mu").desc, col("w1"), col("w2"))
      .limit(pmiTopK)
  }

  private[graft] def pmiFrom(documents: DataFrame): DataFrame =
    pmiFromCounts(bigramPairs(bigramDocToks(documents))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb")))

  private[graft] def pmiFromToks(docs: DataFrame): DataFrame =
    pmiFromCounts(bigramPairs(docs)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb")))

  val pmiSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents
       |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2
       |), bigrams AS (
       |  SELECT ts[i] AS w1, ts[i + 1] AS w2
       |  FROM d, unnest(range(1, len(ts))) u(i)
       |), bf AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
       |  FROM bigrams GROUP BY w1, w2
       |), lm AS (SELECT w1, sum(cb) AS r FROM bf GROUP BY w1),
       |rm AS (SELECT w2, sum(cb) AS s FROM bf GROUP BY w2),
       |n AS (SELECT sum(cb) AS nb FROM bf)
       |SELECT b.w1, b.w2, b.cb,
       |  CAST(floor(ln((CAST(b.cb AS DOUBLE) * CAST(n.nb AS DOUBLE))
       |    / (CAST(lm.r AS DOUBLE) * CAST(rm.s AS DOUBLE))) * 1000000.0
       |    + 0.5) AS BIGINT) AS pmi_mu
       |FROM bf b
       |JOIN lm ON lm.w1 = b.w1 JOIN rm ON rm.w2 = b.w2 CROSS JOIN n
       |WHERE b.cb >= $pmiMinCount
       |ORDER BY pmi_mu DESC, b.w1, b.w2 LIMIT $pmiTopK""".stripMargin

  // ---- txt_jsd_drift: per-source distribution drift --------------------

  /** ln 2 in micro-nats — the closed-form contribution of every term
    * ABSENT from a source (q_t/m_t = 2 exactly when c_st = 0), which
    * is what lets the sum run over only the source's own vocabulary.
    */
  private val ln2Mu = 693147L

  /** Per-source JENSEN–SHANNON divergence against the corpus-wide
    * term distribution — the text sibling of `q_psi_drift`'s
    * event-type monitor (PSI watches the event mix over time; this
    * watches which SOURCES' vocabularies drift from the corpus — the
    * source-quality leaderboard a curation pipeline reviews before
    * reweighting): JSD(p_s ‖ q) = ½KL(p‖m) + ½KL(q‖m), m = ½(p+q),
    * bounded in [0, ln 2], symmetric and defined even where supports
    * differ (the reason it beats raw KL here).
    *
    * Exactness scheme: both KL ratios clear to INTEGER-ratio form
    * (p_t/m_t = 2·c_st·N / (c_st·N + c_t·N_s), q_t/m_t the mirror),
    * each term's ln quantizes to integer micro-nats BEFORE the
    * count-weighted sums (the NLL discipline — order-free integer
    * aggregation, ln last-ulp absorbed per term); terms ABSENT from
    * the source contribute exactly q_t·ln 2, so the whole absent mass
    * folds into the closed form (N − Σ_present c_t)·ln2_mu — the sum
    * never touches vocab × sources, only the (source, term) support
    * (the sparse relation one corpus scan already produces). Final
    * JSD is one identical q6 double expression per source.
    */
  def jsdDrift(spark: SparkSession, sfDir: String): DataFrame =
    jsdFromCounts(lmDocToks(spark, sfDir)
      .select(col("source"), explode(col("ts")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cst")))

  /** The divergence report over any (source, term, cst) support
    * relation — shared by the batch and streaming faces (one arriving
    * doc shifts N, its source's N_s, and every term's marginal: the
    * divergence is never storable state, only the counts are).
    */
  private[graft] def jsdFromCounts(st0: DataFrame): DataFrame = {
    val st = st0.localCheckpoint()
    val ct = st.groupBy(col("term")).agg(sum(col("cst")).as("ct"))
    val ns = st.groupBy(col("source")).agg(sum(col("cst")).as("ns"))
    val n = st.agg(sum(col("cst")).as("n"))
    st.join(ct, "term").join(ns, "source").crossJoin(broadcast(n))
      .select(col("source"), col("ns"), col("n"), col("cst"), col("ct"),
        expr(
          """CAST(floor(ln((2.0 * CAST(cst AS DOUBLE) * CAST(n AS DOUBLE))
            |  / (CAST(cst AS DOUBLE) * CAST(n AS DOUBLE)
            |     + CAST(ct AS DOUBLE) * CAST(ns AS DOUBLE)))
            |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin).as("u1"),
        expr(
          """CAST(floor(ln((2.0 * CAST(ct AS DOUBLE) * CAST(ns AS DOUBLE))
            |  / (CAST(cst AS DOUBLE) * CAST(n AS DOUBLE)
            |     + CAST(ct AS DOUBLE) * CAST(ns AS DOUBLE)))
            |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin).as("u2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        max(col("ns")).as("ns"), max(col("n")).as("n"),
        sum(col("cst") * col("u1")).as("num1"),
        sum(col("ct") * col("u2")).as("num2"),
        sum(col("ct")).as("ctsum"))
      .select(col("source"), col("n_terms"), col("num1"), col("num2"),
        ParityMath.q6(expr(
          s"""(CAST(num1 AS DOUBLE) / CAST(ns AS DOUBLE)
             | + CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE)
             | + CAST(n - ctsum AS DOUBLE) * $ln2Mu.0
             |   / CAST(n AS DOUBLE))
             | / 2000000.0""".stripMargin)).as("jsd"))
      .orderBy(col("source"))
  }

  val jsdDriftSql: String =
    s"""WITH st AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS cst FROM (
       |    SELECT source, unnest(regexp_extract_all(lower(text),
       |      '[a-z0-9]+')) AS term
       |    FROM documents
       |  ) GROUP BY 1, 2
       |), ct AS (SELECT term, sum(cst) AS ct FROM st GROUP BY 1),
       |ns AS (SELECT source, sum(cst) AS ns FROM st GROUP BY 1),
       |n AS (SELECT sum(cst) AS n FROM st),
       |u AS (
       |  SELECT st.source, ns.ns, n.n, st.cst, ct.ct,
       |    CAST(floor(ln((2.0 * CAST(st.cst AS DOUBLE)
       |        * CAST(n.n AS DOUBLE))
       |      / (CAST(st.cst AS DOUBLE) * CAST(n.n AS DOUBLE)
       |         + CAST(ct.ct AS DOUBLE) * CAST(ns.ns AS DOUBLE)))
       |      * 1000000.0 + 0.5) AS BIGINT) AS u1,
       |    CAST(floor(ln((2.0 * CAST(ct.ct AS DOUBLE)
       |        * CAST(ns.ns AS DOUBLE))
       |      / (CAST(st.cst AS DOUBLE) * CAST(n.n AS DOUBLE)
       |         + CAST(ct.ct AS DOUBLE) * CAST(ns.ns AS DOUBLE)))
       |      * 1000000.0 + 0.5) AS BIGINT) AS u2
       |  FROM st JOIN ct USING (term) JOIN ns USING (source) CROSS JOIN n
       |), g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
       |    max(ns) AS ns, max(n) AS n,
       |    CAST(sum(cst * u1) AS BIGINT) AS num1,
       |    CAST(sum(ct * u2) AS BIGINT) AS num2,
       |    sum(ct) AS ctsum
       |  FROM u GROUP BY 1
       |)
       |SELECT source, n_terms, num1, num2,
       |  ${ParityMath.q6Sql(
          s"""(CAST(num1 AS DOUBLE) / CAST(ns AS DOUBLE)
             | + CAST(num2 AS DOUBLE) / CAST(n AS DOUBLE)
             | + CAST(n - ctsum AS DOUBLE) * $ln2Mu.0
             |   / CAST(n AS DOUBLE))
             | / 2000000.0""".stripMargin)} AS jsd
       |FROM g ORDER BY source""".stripMargin

  // ---- txt_backoff_nll -----------------------------------------------

  /** Stupid Backoff backoff factor (Brants et al. 2007's α = 0.4),
    * expressed as the exact double literals the chain multiplies by:
    * one level = 0.4, two levels = 0.16.
    */
  val backoffAlpha = "0.4"

  /** Held-out language-model scoring under a trigram→bigram→unigram
    * STUPID BACKOFF chain (Brants et al. 2007 — the smoothing actually
    * used at web scale precisely because it needs only counts, no
    * discount fitting): S(w₃|w₁w₂) = c₃/c₁₂ if the trigram was seen,
    * else 0.4·S(w₃|w₂); S(w₃|w₂) = c₂/c₁ if seen, else 0.4·U(w₃);
    * U = (cu+1)/(S+V) (add-1 floor so unseen vocabulary stays finite).
    * The LM trains on the EVEN doc_ids and scores the ODD ones — the
    * held-out discipline the r9 verdict demanded of the quality
    * classifier, applied from birth here: scoring the training corpus
    * with its own trigram LM never backs off (every observed trigram
    * has count ≥ 1) and measures nothing.
    *
    * Parity scheme: each position's NLL is ONE CASE expression shaped
    * identically in both engines — a single ln() on a single quotient
    * (times the exact 0.4/0.16 literal), floor-quantized to integer
    * micro-nats before the per-doc sum (the NLL family's argument:
    * order-free integer aggregation, ln last-ulp absorbed per
    * position). `n_bo` counts backoff STEPS (trigram→bigram = 1,
    * →unigram = 2) — the fluency signal itself: held-out text full of
    * never-seen trigrams is exactly what word-salad looks like to a
    * count LM.
    *
    * 100 TB shape: counts are map-combinable n-gram aggregations;
    * context totals fold into the n-gram relations VOCAB-SIDE (c₁₂
    * onto trigrams, c₁ onto bigrams), so the held-out token stream
    * pays exactly three keyed left joins — (w1,w2,w3), (w2,w3), (w3)
    * — each on the skew-safe compound key, plus one broadcast 1-row
    * totals relation, then one doc-keyed integer sum. The trigram
    * vocabulary outgrows any broadcast at corpus scale; nothing here
    * assumes it fits.
    */
  def backoffNll(spark: SparkSession, sfDir: String): DataFrame =
    backoffNllFromToks(lmDocToks(spark, sfDir)
      .select(col("doc_id"), col("ts")))

  /** The gate's tokenization, shared with the incremental store so
    * the faces cannot drift: docs with ≥ 1 LM token.
    */
  private[graft] def backoffDocToks(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
      .filter(size(col("ts")) >= 1)

  private[graft] def backoffUni(train: DataFrame): DataFrame =
    train.select(explode(col("ts")).as("w3"))
      .groupBy(col("w3")).agg(count(lit(1)).as("cu"))

  private[graft] def backoffBg(train: DataFrame): DataFrame =
    train.select(explode(expr(
        """zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1),
          |  (a, b) -> struct(a AS w2, b AS w3))""".stripMargin)).as("g"))
      .groupBy(col("g.w2").as("w2"), col("g.w3").as("w3"))
      .agg(count(lit(1)).as("c2"))

  private[graft] def backoffTg(train: DataFrame): DataFrame =
    train.filter(size(col("ts")) >= 3)
      .select(explode(expr(
        """transform(sequence(3, size(ts)), i -> struct(
          |  ts[i - 3] AS w1, ts[i - 2] AS w2, ts[i - 1] AS w3))"""
          .stripMargin)).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
      .agg(count(lit(1)).as("c3"))

  /** The held-out position stream (1-based i with its trigram/bigram
    * context, nulls below the order) from any tokenized relation.
    */
  private[graft] def backoffPos(test: DataFrame): DataFrame =
    test.select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ts)), i -> struct(
          |  CAST(i AS BIGINT) AS i,
          |  CASE WHEN i >= 3 THEN ts[i - 3] END AS w1,
          |  CASE WHEN i >= 2 THEN ts[i - 2] END AS w2,
          |  ts[i - 1] AS w3))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.w1").as("w1"),
        col("p.w2").as("w2"), col("p.w3").as("w3"))

  private[graft] def backoffNllFrom(documents: DataFrame): DataFrame =
    backoffNllFromToks(backoffDocToks(documents).localCheckpoint())

  /** Over an already-materialized token relation (the session tier or
    * an ad-hoc checkpoint): train/test are narrow filters over the
    * cached blocks, so the corpus tokenizes exactly once however many
    * n-gram relations derive from it.
    */
  private def backoffNllFromToks(toks: DataFrame): DataFrame = {
    val train = toks.filter(pmod(col("doc_id"), lit(2)) === 0)
    val test = toks.filter(pmod(col("doc_id"), lit(2)) === 1)
    backoffScore(backoffPos(test), backoffUni(train), backoffBg(train),
      backoffTg(train))
  }

  /** The scoring core over any position stream + n-gram count
    * relations — shared by the batch face and the incremental store's
    * query-time view (whose summed per-batch partials are exactly
    * these relations, counts being additive). Context totals fold in
    * vocab-side; the position stream pays three keyed left joins.
    */
  private[graft] def backoffScore(pos: DataFrame, uni: DataFrame,
                                  bg: DataFrame,
                                  tg: DataFrame): DataFrame = {
    val tot = uni.agg(sum(col("cu")).as("s_tok"),
      count(lit(1)).as("v_size"))
    // context totals as WINDOW sums (identical values to the old
    // aggregate-then-self-join: sum over the same group), so each
    // n-gram relation is derived - and shuffled - once, not twice
    val tgs = tg.withColumn("c12",
      sum(col("c3")).over(Window.partitionBy(col("w1"), col("w2"))))
    val bgs = bg.withColumn("c1",
      sum(col("c2")).over(Window.partitionBy(col("w2"))))
    val a = backoffAlpha
    // co-partition the chain on (w2, w3) - a subset of BOTH join key
    // sets (guide §2.4 "two operations keyed the same way share one
    // exchange"). Keying the VOCAB sides (cheap, n-gram-sized) lets
    // the planner align the corpus-token-sized position stream to
    // (w2, w3) once, so when the joins run as sort-merge (the 100 TB
    // shape - the vocab outgrows a broadcast) the position stream
    // crosses the network ONCE instead of once per join ((w1,w2,w3)
    // then (w2,w3)); when the vocab is small enough to broadcast the
    // extra exchanges are vocab-sized noise and the stream still
    // never shuffles.
    pos
      .join(tgs.repartition(col("w2"), col("w3")),
        Seq("w1", "w2", "w3"), "left")
      .join(bgs.repartition(col("w2"), col("w3")),
        Seq("w2", "w3"), "left")
      .join(broadcast(uni), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        expr(s"""CAST(floor(-ln(CASE
          |  WHEN i >= 3 AND c3 IS NOT NULL
          |    THEN CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE)
          |  WHEN i >= 2 AND c2 IS NOT NULL
          |    THEN (CASE WHEN i >= 3 THEN $a ELSE 1.0 END)
          |      * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
          |  ELSE (CASE WHEN i >= 3 THEN $a * $a WHEN i = 2 THEN $a
          |        ELSE 1.0 END)
          |    * (CAST(coalesce(cu, 0) + 1 AS DOUBLE)
          |       / CAST(s_tok + v_size AS DOUBLE))
          |END) * 1000000.0 + 0.5) AS BIGINT)""".stripMargin).as("nll_u"),
        expr("""CASE
          |  WHEN i >= 3 AND c3 IS NULL AND c2 IS NULL THEN 2L
          |  WHEN i >= 3 AND c3 IS NULL THEN 1L
          |  WHEN i = 2 AND c2 IS NULL THEN 1L
          |  ELSE 0L END""".stripMargin).as("bo"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("bo")).as("n_bo"),
        sum(col("nll_u")).as("sum_u"))
      .select(col("doc_id"), col("n_tok"), col("n_bo"),
        ParityMath.q6((col("sum_u").cast("double") / lit(1000000.0))
          / col("n_tok")).as("nll"))
      .orderBy(col("doc_id"))
  }

  val backoffNllSql: String = {
    val a = backoffAlpha
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents
       |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 1
       |), tr AS (SELECT ts FROM toks WHERE doc_id % 2 = 0),
       |te AS (SELECT doc_id, ts FROM toks WHERE doc_id % 2 = 1),
       |uni AS (
       |  SELECT w3, count(*) AS cu FROM (
       |    SELECT unnest(ts) AS w3 FROM tr
       |  ) GROUP BY 1
       |), tot AS (
       |  SELECT sum(cu) AS s_tok, count(*) AS v_size FROM uni
       |), bg AS (
       |  SELECT w2, w3, count(*) AS c2 FROM (
       |    SELECT ts[i] AS w2, ts[i + 1] AS w3
       |    FROM tr, unnest(range(1, len(ts))) u(i)
       |  ) GROUP BY 1, 2
       |), tg AS (
       |  SELECT w1, w2, w3, count(*) AS c3 FROM (
       |    SELECT ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3
       |    FROM tr, unnest(range(1, len(ts) - 1)) u(i)
       |    WHERE len(ts) >= 3
       |  ) GROUP BY 1, 2, 3
       |), tgs AS (
       |  SELECT t.w1, t.w2, t.w3, t.c3, x.c12
       |  FROM tg t JOIN (
       |    SELECT w1, w2, sum(c3) AS c12 FROM tg GROUP BY 1, 2
       |  ) x ON t.w1 = x.w1 AND t.w2 = x.w2
       |), bgs AS (
       |  SELECT b.w2, b.w3, b.c2, x.c1
       |  FROM bg b JOIN (
       |    SELECT w2, sum(c2) AS c1 FROM bg GROUP BY 1
       |  ) x ON b.w2 = x.w2
       |), pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    CASE WHEN i >= 3 THEN ts[i - 2] END AS w1,
       |    CASE WHEN i >= 2 THEN ts[i - 1] END AS w2,
       |    ts[i] AS w3
       |  FROM te, unnest(range(1, len(ts) + 1)) u(i)
       |), sc AS (
       |  SELECT p.doc_id,
       |    CAST(floor(-ln(CASE
       |      WHEN i >= 3 AND c3 IS NOT NULL
       |        THEN CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE)
       |      WHEN i >= 2 AND c2 IS NOT NULL
       |        THEN (CASE WHEN i >= 3 THEN $a ELSE 1.0 END)
       |          * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
       |      ELSE (CASE WHEN i >= 3 THEN $a * $a WHEN i = 2 THEN $a
       |            ELSE 1.0 END)
       |        * (CAST(coalesce(cu, 0) + 1 AS DOUBLE)
       |           / CAST(s_tok + v_size AS DOUBLE))
       |    END) * 1000000.0 + 0.5) AS BIGINT) AS nll_u,
       |    CASE
       |      WHEN i >= 3 AND c3 IS NULL AND c2 IS NULL THEN 2
       |      WHEN i >= 3 AND c3 IS NULL THEN 1
       |      WHEN i = 2 AND c2 IS NULL THEN 1
       |      ELSE 0 END AS bo
       |  FROM pos p
       |  LEFT JOIN tgs t ON p.w1 = t.w1 AND p.w2 = t.w2 AND p.w3 = t.w3
       |  LEFT JOIN bgs b ON p.w2 = b.w2 AND p.w3 = b.w3
       |  LEFT JOIN uni u ON p.w3 = u.w3
       |  CROSS JOIN tot
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |  CAST(sum(bo) AS BIGINT) AS n_bo,
       |  ${ParityMath.q6Sql(
            "(CAST(sum(nll_u) AS DOUBLE) / 1000000.0) / count(*)")}
       |    AS nll
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- txt_repetition ------------------------------------------------

  /** Gopher-style repetition signals per document: the share of word
    * bigrams taken by the single most frequent bigram (boilerplate /
    * template detector), and the share of trigram occurrences that are
    * repeats within the document.
    *
    * Plan shape for 100 TB: ZERO shuffle (bar the presentation sort).
    * The duplicate-trigram count is per-row array work
    * (`array_distinct` over an in-row transform), and the bigram mode
    * - within-document, so it never needs to leave the row - is the
    * codegen'd `graft_top_bigram` expression (per-row hash map, the
    * same (count desc, bigram desc) tie-break the oracle's window
    * uses). The relational form of the mode (explode + two keyed
    * aggregations) would shuffle corpus-token-count rows twice for a
    * result each row can compute alone.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    Graft.tableParallel(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= 3)
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("n_tri", (size(col("toks")) - 2).cast(LongType))
      .withColumn("dup_tri_cnt", expr("graft_dup_ngrams(toks, 3)"))
      .withColumn("m", expr("graft_top_bigram(toks)"))
      .select(col("doc_id"), col("n_tokens"),
        col("m.bg").as("top_bigram"),
        col("m.c").as("top_bigram_cnt"),
        ParityMath.q6(col("m.c").cast("double") /
          (col("n_tokens") - 1).cast("double")).as("rep2_ratio"),
        col("dup_tri_cnt"),
        ParityMath.q6(col("dup_tri_cnt").cast("double") /
          col("n_tri").cast("double")).as("dup_tri_ratio"))
      .orderBy(col("doc_id"))

  val repetitionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
       |  FROM documents
       |  WHERE len(regexp_extract_all(text, '\\S+')) >= 3
       |), base AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |    CAST(len(t) - 2 AS BIGINT) AS n_tri,
       |    CAST(len(t) - 2 - len(list_distinct(list_transform(
       |        range(1, len(t) - 1),
       |        i -> array_to_string(t[i:i+2], ' ')))) AS BIGINT)
       |      AS dup_tri_cnt
       |  FROM t
       |), bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> array_to_string(t[i:i+1], ' '))) AS bg
       |  FROM t
       |), top AS (
       |  SELECT doc_id, bg AS top_bigram,
       |         CAST(c AS BIGINT) AS top_bigram_cnt
       |  FROM (
       |    SELECT doc_id, bg, count(*) AS c,
       |      row_number() OVER (PARTITION BY doc_id
       |                         ORDER BY count(*) DESC, bg DESC) AS rn
       |    FROM bg GROUP BY doc_id, bg
       |  ) WHERE rn = 1
       |)
       |SELECT b.doc_id, b.n_tokens, top.top_bigram, top.top_bigram_cnt,
       |  ${ParityMath.q6Sql(
            """CAST(top.top_bigram_cnt AS DOUBLE)
              | / CAST(b.n_tokens - 1 AS DOUBLE)""".stripMargin)}
       |    AS rep2_ratio,
       |  b.dup_tri_cnt,
       |  ${ParityMath.q6Sql(
            "CAST(b.dup_tri_cnt AS DOUBLE) / CAST(b.n_tri AS DOUBLE)")}
       |    AS dup_tri_ratio
       |FROM base b JOIN top USING (doc_id) ORDER BY b.doc_id""".stripMargin

  // ---- txt_entropy ----------------------------------------------------

  /** Per-document word-distribution Shannon entropy - the third
    * statistical quality signal next to the NLL gates: repetition
    * ratios catch ONE dominant n-gram, the LM gates score against the
    * corpus, but a document that cycles a tiny vocabulary with no
    * single dominant token (spam keyword stuffing) shows up as LOW
    * entropy regardless of which tokens it uses.
    *
    * Shape at scale: FULLY NARROW - the distribution is within-row, so
    * counts, the Σ c·ln c fold and the entropy all run as in-row
    * higher-order functions (docs are ≤ a few thousand tokens; the
    * quadratic distinct×tokens scan is row-local work, no shuffle at
    * any corpus width). Parity: per-count ln is quantized to integer
    * micro-nats (the NLL gates' scheme), entropy = (n·lnq(n) − Σ
    * c·lnq(c)) / (n·1e6) leaves ONE final double division, so both
    * engines divide the same two integers.
    */
  /** The in-row entropy projection over any (doc_id, text) relation -
    * shared verbatim by the batch face and the stateless streaming
    * admission face.
    */
  private[graft] def entropyFrom(docs: DataFrame): DataFrame =
    entropyFromToks(docs
      .select(col("doc_id"), expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts")))

  private[graft] def entropyFromToks(docToks: DataFrame): DataFrame =
    docToks
      .select(col("doc_id"), col("ts").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0L)
      .withColumn("sum_clnc", expr(
        """aggregate(
          |  transform(array_distinct(toks),
          |    w -> CAST(size(filter(toks, t -> t = w)) AS BIGINT)),
          |  0L,
          |  (acc, c) -> acc + c * CAST(floor(ln(CAST(c AS DOUBLE))
          |    * 1000000.0 + 0.5) AS BIGINT))""".stripMargin))
      .select(col("doc_id"), col("n").as("n_tok"),
        ParityMath.q6(expr(
          """CAST(CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
            |  AS BIGINT) * n - sum_clnc AS DOUBLE)
            |  / (CAST(n AS DOUBLE) * 1000000.0)""".stripMargin))
          .as("entropy"))

  def entropy(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    entropyFromToks(lmDocToks(spark, sfDir)
      .select(col("doc_id"), col("ts")))
      .orderBy(col("doc_id"))
  }

  val entropySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), counts AS (
       |  SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2
       |), agg AS (
       |  SELECT doc_id,
       |    sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5)
       |        AS BIGINT)) AS sum_clnc,
       |    sum(c) AS n
       |  FROM counts GROUP BY 1
       |)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
       |  ${ParityMath.q6Sql(
            """CAST(CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
              |    AS BIGINT) * n - sum_clnc AS DOUBLE)
              |    / (CAST(n AS DOUBLE) * 1000000.0)""".stripMargin)}
       |    AS entropy
       |FROM agg WHERE n > 0 ORDER BY doc_id""".stripMargin

  // ---- txt_hashfeat ---------------------------------------------------

  /** Feature-hashing bucket count (the "hashing trick"). */
  val hashfeatBuckets = 64

  /** Feature-hashing vectorizer: each document becomes a sparse
    * `hashfeatBuckets`-dimensional signed term-frequency vector - the
    * fixed-width featurization (Weinberger et al., ICML 2009) that
    * needs NO vocabulary pass, no dictionary broadcast, and no
    * train/serve vocab skew; the signed-sum makes collisions unbiased.
    * Output is the sparse (doc_id, bucket, w) relation, zero-weight
    * collisions dropped.
    *
    * 100 TB shape: one narrow token fan-out + one (doc, bucket)-keyed
    * map-combinable sum (≤ `hashfeatBuckets` rows per doc survive the
    * partial agg). Bucket and sign come off the engines' shared
    * md5-48 integer (bucket = h mod K, sign = bit 6), so the relation
    * is bitwise cross-engine.
    */
  def hashfeat(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    hashfeatFrom(Graft.tableParallel(spark, sfDir, "documents"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  /** The sparse (doc_id, bucket, w) relation over any documents frame.
    * The quality classifier's hashed features must be bit-identical to
    * this relation but CANNOT derive from it: its streaming face needs
    * the one-explode/one-aggregation plan shape (dense features ride
    * the same explode), so `QualityClassifier.featureRows` re-states
    * the bucket/sign math inline and `QualityClassifierSpec` pins the
    * equality - parity is spec-enforced, not structural.
    */
  private[graft] def hashfeatFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      .withColumn("h", expr("graft_md5_48(term)"))
      .groupBy(col("doc_id"),
        (col("h") % hashfeatBuckets).as("bucket"))
      .agg(sum(when(expr(s"(h DIV $hashfeatBuckets) % 2 = 0"), 1L)
        .otherwise(-1L)).as("w"))
      .filter(col("w") =!= 0L)

  val hashfeatSql: String = {
    val h48 = HashParity.hex48Duck("md5(term)")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, $h48 AS h FROM toks
       |)
       |SELECT doc_id, CAST(h % $hashfeatBuckets AS BIGINT) AS bucket,
       |  CAST(sum(CASE WHEN (h // $hashfeatBuckets) % 2 = 0
       |                THEN 1 ELSE -1 END) AS BIGINT) AS w
       |FROM h GROUP BY 1, 2
       |HAVING sum(CASE WHEN (h // $hashfeatBuckets) % 2 = 0
       |           THEN 1 ELSE -1 END) != 0
       |ORDER BY doc_id, bucket""".stripMargin
  }

  // ---- txt_heaps ------------------------------------------------------

  /** Heaps-law vocabulary-growth curve: cumulative (docs, tokens,
    * distinct terms) at ten doc-id-range checkpoints - the diagnostic
    * that EXPLAINS the dedup router (`dd_jaccard_routed`): a corpus
    * whose vocabulary keeps growing (V ∝ T^β, β ≈ 0.5-0.7 on natural
    * text) keeps prefix tokens rare and the exact join linear; a curve
    * that PLATEAUS is the fixed-vocab/templated signature whose
    * candidate volume goes quadratic. The curation run logs this next
    * to txt_zipf (rank-frequency says how mass concentrates; this says
    * whether the vocabulary saturates).
    *
    * Shape at scale: each term pays one map-combinable min(doc_id)
    * (first appearance), each doc one token count; both relations fold
    * to TEN bucket rows (bucket = the first-appearance decile of the
    * doc-id range) before the cumulative window runs - no global
    * ordering over tokens, no growing state, ALL-INTEGER arithmetic.
    */
  def heaps(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val docs = Graft.tableParallel(spark, sfDir, "documents")
    val lim = docs.agg(max(col("doc_id")) + 1L).head.getLong(0)
    val toks = lmDocToks(spark, sfDir)
      .select(col("doc_id"), explode(col("ts")).as("term"))
    heapsFromRelations(spark,
      toks.groupBy(col("term")).agg(min(col("doc_id")).as("fd")),
      toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt")), lim)
  }

  /** The curve over any (term, fd) first-appearance relation and
    * (doc_id, nt) token-count relation - shared with the streaming
    * face, whose streamed state IS these two relations (min and count
    * are both merge-clean under any batch split).
    */
  private[graft] def heapsFromRelations(spark: SparkSession,
                                        firstDoc: DataFrame,
                                        docTok: DataFrame,
                                        lim: Long): DataFrame = {
    // bucket 0..9 by doc-id range (integer DIV, exact); every
    // per-bucket partial is additive
    val vocabB = firstDoc
      .groupBy(expr(s"(fd * 10) DIV ${lim}L").as("b"))
      .agg(count(lit(1)).as("v"))
    val tokB = docTok
      .groupBy(expr(s"(doc_id * 10) DIV ${lim}L").as("b"))
      .agg(sum(col("nt")).as("t"), count(lit(1)).as("d"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = spark
    import s.implicits._
    // left-join from the full decile spine: empty deciles stay visible
    (0L until 10L).toDF("b")
      .join(vocabB, Seq("b"), "left")
      .join(tokB, Seq("b"), "left")
      .select(col("b"),
        sum(coalesce(col("d"), lit(0L))).over(w).as("n_docs"),
        sum(coalesce(col("t"), lit(0L))).over(w).as("n_tokens"),
        sum(coalesce(col("v"), lit(0L))).over(w).as("vocab"))
      .select((col("b") + 1L).as("decile"), col("n_docs"),
        col("n_tokens"), col("vocab"))
      .orderBy(col("decile"))
  }

  val heapsSql: String =
    s"""WITH lim AS (
       |  SELECT max(doc_id) + 1 AS l FROM documents
       |), toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), vb AS (
       |  SELECT (fd * 10) // (SELECT l FROM lim) AS b, count(*) AS v
       |  FROM (SELECT term, min(doc_id) AS fd FROM toks GROUP BY term)
       |  GROUP BY 1
       |), tb AS (
       |  SELECT (doc_id * 10) // (SELECT l FROM lim) AS b,
       |    CAST(sum(nt) AS BIGINT) AS t, count(*) AS d
       |  FROM (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id)
       |  GROUP BY 1
       |), spine AS (SELECT unnest(range(0, 10)) AS b)
       |SELECT CAST(b + 1 AS BIGINT) AS decile,
       |  CAST(sum(COALESCE(d, 0)) OVER wc AS BIGINT) AS n_docs,
       |  CAST(sum(COALESCE(t, 0)) OVER wc AS BIGINT) AS n_tokens,
       |  CAST(sum(COALESCE(v, 0)) OVER wc AS BIGINT) AS vocab
       |FROM spine LEFT JOIN vb USING (b) LEFT JOIN tb USING (b)
       |WINDOW wc AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
       |              AND CURRENT ROW)
       |ORDER BY decile""".stripMargin

  // ---- pipe_dataset_card ------------------------------------------------

  /** One-row DATASET CARD: the corpus-composition summary a training
    * run records next to its data manifest - size (docs, tokens,
    * mean doc length), vocabulary, source mix (count + concentration),
    * and exact-duplicate rate, each the same kernel its dedicated
    * operator uses (tokenizer = txt_heaps/vocab, hash = dd_exact), so
    * the card can never disagree with the operators it summarizes.
    *
    * Shape at scale: three map-combinable aggregations over one corpus
    * scan each (token counts, source counts, hash distinct), all
    * folding to scalars/≤|sources| rows before the final 1-row join;
    * the only floats are three final q6 ratios.
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val docs = Graft.tableParallel(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"), explode(expr(
      "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
    val tok = toks.agg(count(lit(1)).as("n_tokens"),
      count_distinct(col("term")).as("vocab_size"))
    val src = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_sources"), max(col("c")).as("top_c"))
    val base = docs.agg(count(lit(1)).as("n_docs"),
      count_distinct(md5(col("text").cast("binary"))).as("n_uniq"))
    base.crossJoin(tok).crossJoin(src)
      .select(col("n_docs"), col("n_tokens"), col("vocab_size"),
        ParityMath.q6(col("n_tokens").cast("double") /
          col("n_docs").cast("double")).as("mean_doc_tokens"),
        col("n_sources"),
        ParityMath.q6(col("top_c").cast("double") /
          col("n_docs").cast("double")).as("top_source_share"),
        ParityMath.q6((col("n_docs") - col("n_uniq")).cast("double") /
          col("n_docs").cast("double")).as("exact_dup_rate"))
  }

  val datasetCardSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z0-9]+')) AS term
       |  FROM documents
       |), tok AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT term) AS BIGINT) AS vocab_size
       |  FROM toks
       |), src AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
       |    CAST(max(c) AS BIGINT) AS top_c
       |  FROM (SELECT source, count(*) AS c FROM documents GROUP BY source)
       |), base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq
       |  FROM documents
       |)
       |SELECT n_docs, n_tokens, vocab_size,
       |  (floor(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |     * 1000000.0 + 0.5) / 1000000.0) AS mean_doc_tokens,
       |  n_sources,
       |  (floor(CAST(top_c AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |     * 1000000.0 + 0.5) / 1000000.0) AS top_source_share,
       |  (floor(CAST(n_docs - n_uniq AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |     * 1000000.0 + 0.5) / 1000000.0) AS exact_dup_rate
       |FROM base CROSS JOIN tok CROSS JOIN src""".stripMargin

  // ---- txt_novelty ----------------------------------------------------

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * 3-gram shingles never seen in any EARLIER doc (doc_id = arrival
    * order) - the freshness/memorization signal a data curator reads
    * next to the dedup verdicts: near-dups score ≈ 0 without ever
    * running a pairwise join, boilerplate-heavy sources trend low
    * corpus-wide, and a novelty collapse over arrival order means the
    * crawl started eating its own tail. Reuses the dedup family's
    * persisted shingle relation verbatim.
    *
    * Shape at scale: one map-combinable min(doc_id) per shingle
    * (first appearance - the txt_heaps discipline), one hash join back
    * on the shingle key, one per-doc count agg; the single float is
    * the final q6 ratio.
    */
  def novelty(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    noveltyFrom(SignatureStore.shingles(spark, sfDir))
  }

  /** The novelty view over any (doc_id, hs) shingle relation - shared
    * with the incremental-store face (novelty is a query-time view
    * over the shingles the dedup store already maintains: a late
    * batch carrying an EARLIER doc_id re-assigns first-appearances,
    * which min-at-query-time absorbs and no stored per-batch score
    * could).
    */
  private[graft] def noveltyFrom(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("hs")).as("h"))
    val fd = ex.groupBy(col("h")).agg(min(col("doc_id")).as("fd"))
    ex.join(fd, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        graft.pipeline.ParityMath.q6(col("n_novel").cast("double") /
          col("n_grams").cast("double")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val noveltySql: String =
    s"""WITH ${Dedup.shingledCteDuck}, ex AS (
       |  SELECT doc_id, unnest(hs) AS h FROM hs
       |), fd AS (
       |  SELECT h, min(doc_id) AS fd FROM ex GROUP BY h
       |)
       |SELECT e.doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_novel,
       |  (floor(CAST(sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END)
       |     AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5)
       |   / 1000000.0) AS novelty
       |FROM ex e JOIN fd f ON f.h = e.h
       |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin

  // ---- txt_zipf -------------------------------------------------------

  /** Zipf rank-frequency regression over the corpus vocabulary - the
    * corpus-composition health check (natural text follows ln f ≈
    * a − s·ln r with s near 1; template/boilerplate floods flatten the
    * slope, garbage steepens it). The report every curation run logs
    * next to the txt_vocab top-k.
    *
    * Shape at scale: the corpus pays ONE map-combinable term count;
    * the top-R ranks come off the vocab relation via a bounded global
    * heap (TakeOrderedAndProject, never a vocab-wide sort), and the
    * regression runs over R = $zipfRanks rows. Parity: ln(rank) and
    * ln(freq) quantize to integer micro-nats, the least-squares sums
    * accumulate in DECIMAL(38,0) ≙ HUGEINT (n·Σxy reaches ~7e18 at
    * corpus scale), and slope = (n·Σxy − Σx·Σy)/(n·Σx² − Σx²) is ONE
    * final double division - bitwise cross-engine.
    */
  val zipfRanks = 256

  /** The regression over any (term, cnt) vocabulary relation - shared
    * by the batch face and the streaming face, whose streamed state IS
    * this relation. ONE pass: the totals and the bounded top-R heap
    * (`TopFreqAgg`, map-side-trimmed like the sample family's
    * aggregator) come out of the same global aggregation, so the vocab
    * relation - and therefore the corpus scan feeding it - is
    * traversed exactly once (the naive totals + orderBy/limit
    * formulation re-derives the whole scan subtree; AQE does not reuse
    * it across the two sinks).
    */
  private[graft] def zipfFrom(freq: DataFrame): DataFrame = {
    val topAgg = udaf(graft.functions.TopFreqAgg(zipfRanks))
    freq
      .agg(sum(col("cnt")).as("total_tokens"),
        count(lit(1)).as("vocab_size"),
        topAgg(col("term"), col("cnt")).as("top"))
      .select(col("total_tokens"), col("vocab_size"),
        posexplode(col("top")).as(Seq("pos", "tc")))
      .select(col("total_tokens"), col("vocab_size"),
        expr("CAST(floor(ln(CAST(pos + 1 AS DOUBLE)) * 1000000.0 + 0.5) " +
          "AS DECIMAL(38,0))").as("x"),
        expr("CAST(floor(ln(CAST(tc._2 AS DOUBLE)) * 1000000.0 + 0.5) " +
          "AS DECIMAL(38,0))").as("y"))
      .agg(max(col("total_tokens")).as("total_tokens"),
        max(col("vocab_size")).as("vocab_size"),
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").cast("long").as("n_ranks"),
        col("vocab_size").cast("long").as("vocab_size"),
        col("total_tokens").cast("long").as("total_tokens"),
        ParityMath.q6(expr(
          """CAST(n * sxy - sx * sy AS DOUBLE)
            |  / CAST(n * sxx - sx * sx AS DOUBLE)""".stripMargin))
          .as("slope"))
  }

  // ---- txt_vocab_coverage ----------------------------------------------

  /** Coverage-curve cut points: the "how big must the vocab be"
    * readings a tokenizer budget is negotiated against.
    */
  val coverageCuts: Seq[Long] = Seq(10L, 100L, 1000L)

  /** TOP-K TYPE COVERAGE — the actionable curve behind txt_zipf's law
    * fit (zipf says frequencies decay as a power law; this says what
    * fraction of all TOKENS the k most frequent types actually cover
    * — the vocabulary-sizing and OOV-budget reading, txt_fertility's
    * corpus-side companion): per cut k, the types admitted, tokens
    * covered, and the q6 share. Rank = (cnt DESC, term ASC), the zipf
    * total order, selected via GlobalRank's range shuffle — never a
    * single-task window over a 100 TB vocabulary.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    coverageFrom(lmDocToks(spark, sfDir)
      .select(explode(col("ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt")))
  }

  /** The curve over any (term, cnt) frequency relation — shared with
    * the zipf stream face's state.
    */
  private[graft] def coverageFrom(freq: DataFrame): DataFrame = {
    val (ranked, vocab) = graft.core.GlobalRank.withRank(freq,
      Seq(col("cnt").desc, col("term").asc), "rk")
    val cutAggs = coverageCuts.map(k =>
      coalesce(sum(when(col("rk") <= k, col("cnt")).otherwise(0L)),
        lit(0L)).as(s"c$k"))
    val rows = coverageCuts.map { k =>
      s"struct(CAST($k AS BIGINT) AS k, c$k AS covered)"
    }.mkString(", ")
    ranked
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("total"),
        cutAggs: _*)
      .select(col("total"), explode(expr(s"array($rows)")).as("r"))
      .select(col("r.k").as("k"),
        least(col("r.k"), lit(vocab)).as("n_types"),
        col("r.covered").as("covered"),
        when(col("total") > 0, graft.pipeline.ParityMath.q6(
          col("r.covered").cast("double") / col("total").cast("double")))
          .as("share"))
      .orderBy(col("k"))
  }

  val vocabCoverageSql: String = {
    val cutCols = coverageCuts.map(k =>
      s"CAST(coalesce(sum(CASE WHEN rk <= $k THEN cnt ELSE 0 END), 0) " +
        s"AS BIGINT) AS c$k").mkString(",\n    ")
    val branches = coverageCuts.map { k =>
      s"""  SELECT CAST($k AS BIGINT) AS k,
         |    CAST(least($k, vocab) AS BIGINT) AS n_types,
         |    c$k AS covered,
         |    CASE WHEN total > 0 THEN ${ParityMath.q6Sql(
              s"CAST(c$k AS DOUBLE) / CAST(total AS DOUBLE)")}
         |    END AS share
         |  FROM a""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |    AS term
       |  FROM documents
       |), freq AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY 1
       |), r AS (
       |  SELECT cnt,
       |    row_number() OVER (ORDER BY cnt DESC, term) AS rk,
       |    count(*) OVER () AS vocab
       |  FROM freq
       |), a AS (
       |  SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total,
       |    CAST(max(vocab) AS BIGINT) AS vocab,
       |    $cutCols
       |  FROM r
       |)
       |SELECT * FROM (
       |$branches
       |) ORDER BY k""".stripMargin
  }

  def zipf(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    zipfFrom(lmDocToks(spark, sfDir)
      .select(explode(col("ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt")))
  }

  val zipfSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |    AS term
       |  FROM documents
       |), freq AS (
       |  SELECT term, count(*) AS cnt FROM toks GROUP BY term
       |), totals AS (
       |  SELECT sum(cnt) AS total_tokens, count(*) AS vocab_size
       |  FROM freq
       |), top AS (
       |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC)
       |    AS r
       |  FROM freq ORDER BY cnt DESC, term ASC LIMIT $zipfRanks
       |), pts AS (
       |  SELECT
       |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0 + 0.5)
       |      AS HUGEINT) AS x,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5)
       |      AS HUGEINT) AS y
       |  FROM top
       |), s AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
       |         sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
       |  FROM pts
       |)
       |SELECT CAST(s.n AS BIGINT) AS n_ranks,
       |  CAST(t.vocab_size AS BIGINT) AS vocab_size,
       |  CAST(t.total_tokens AS BIGINT) AS total_tokens,
       |  ${ParityMath.q6Sql(
            """CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
              |    / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)""".stripMargin)}
       |    AS slope
       |FROM s CROSS JOIN totals t""".stripMargin
}
