package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Session-memo and idle-state contracts of the SignatureStore. */
class SignatureStoreSpec extends SparkSpec {

  test("bands memo keys on the banding identity: two configs don't alias") {
    // a deliberately different banding over the same corpus dir: one
    // band whose hash is the doc's first shingle hash
    val coarse: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      sh => sh.filter(size(col("hs")) >= 1)
        .select(col("doc_id"), lit(0).as("b"),
          element_at(col("hs"), 1).cast("string").as("h"))
    val std = SignatureStore.bands(spark, sfDir, "minhash-b8r4",
      Dedup.bandsFrom)
    val alt = SignatureStore.bands(spark, sfDir, "first-shingle",
      coarse)
    // before the fix the second call silently received the first
    // relation; the two bandings must differ structurally
    assert(std.select("b").distinct().count() == Dedup.numBands.toLong)
    assert(alt.select("b").distinct().count() == 1L)
    // and a repeat call with the same id must hit the memo (same ref)
    assert(SignatureStore.bands(spark, sfDir, "first-shingle", coarse)
      eq alt)
    graft.core.Memo.release(spark, sfDir)
  }

  test("idle store: empty watch dir is a no-op, empty store reads as 0 rows") {
    val watch = Files.createTempDirectory("graft_idle_watch").toString
    val store = Files.createTempDirectory("graft_idle_store").toString
    // first poll before any arrival: must not throw
    SignatureStore.catchUp(spark, watch, store)
    SignatureStore.catchUpEmbeddings(spark, watch, store)
    // a store with no committed batch answers with zero rows
    assert(SignatureStore.storedShingles(spark, store).count() == 0)
    assert(SignatureStore.storedBands(spark, store).count() == 0)
    assert(SignatureStore.storedCells(spark, store).count() == 0)
    assert(SignatureStore.storedCandidates(spark, store).count() == 0)
    assert(SignatureStore.storedAnnCandidates(spark, store).count() == 0)
  }

  test("store dirs as URIs: file: scheme probes and reads like a local path") {
    // the emptiness probe must go through the Hadoop FileSystem API -
    // with a java.io.File probe a URI-form store dir (file:, hdfs:,
    // s3a:) silently read as EMPTY even when it held data
    val watch = Files.createTempDirectory("graft_uri_watch").toString
    val store = Files.createTempDirectory("graft_uri_store").toString
    val docs = graft.core.Graft.table(spark, sfDir, "documents")
    docs.limit(8).coalesce(1).write.mode("append").parquet(watch)
    // catch up addressing BOTH dirs by file: URI, then read back by URI
    SignatureStore.catchUp(spark, s"file:$watch", s"file:$store")
    assert(SignatureStore.storedShingles(spark, s"file:$store").count() == 8)
    assert(SignatureStore.storedBands(spark, s"file:$store").count() > 0)
    // and an idle URI-form watch dir is still a clean no-op
    val idle = Files.createTempDirectory("graft_uri_idle").toString
    SignatureStore.catchUp(spark, s"file:$idle", s"file:$store")
    assert(SignatureStore.storedShingles(spark, s"file:$store").count() == 8)
  }

  test("stored source cap: early docs re-rank under the evolved LM, " +
       "caught-up store == one-shot cap") {
    val watch = Files.createTempDirectory("graft_scap_watch").toString
    val store = Files.createTempDirectory("graft_scap_store").toString
    val docs = graft.core.Graft.table(spark, sfDir, "documents")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def capSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    land(docs.filter(pmod(col("doc_id"), lit(2)) === 0), "a1.parquet")
    SignatureStore.catchUpLm(spark, watch, store)
    val afterFirst = capSet(SignatureStore.storedSourceCap(spark, store))
    land(docs.filter(pmod(col("doc_id"), lit(2)) === 1), "a2.parquet")
    SignatureStore.catchUpLm(spark, watch, store)
    val full = capSet(SignatureStore.storedSourceCap(spark, store))
    val oneShot = capSet(CorpusOps.sourceCap(spark, sfDir))
    assert(full == oneShot,
      "caught-up store must equal the one-shot per-source cap")
    // the evolving-answer contract: batch-1 docs' nll (and therefore
    // their within-source ranking) is NOT frozen at arrival - the
    // final relation scores them under the grown vocabulary
    val b1Early = afterFirst.map(r => r._2 -> r._3).toMap
    val b1Final = full.filter(r => r._2 % 2 == 0).map(r => r._2 -> r._3)
    assert(b1Final.exists { case (id, nll) =>
      b1Early.get(id).exists(_ != nll) },
      "batch-1 docs should re-score once batch 2 grows the LM")
  }

  test("session store: interleaved cross-batch fragments merge to the " +
       "one-shot sessions") {
    val watch = Files.createTempDirectory("graft_sess_watch").toString
    val store = Files.createTempDirectory("graft_sess_store").toString
    val s = spark; import s.implicits._
    val min = 60L * 1000000L
    // user 1: one global session whose events INTERLEAVE across the
    // two batches (batch-local gaps 10-20 min, all <= 30 min) plus a
    // clearly separate session 2 h later arriving in batch 2;
    // user 2: two events 40 min apart in DIFFERENT batches - each
    // batch sees a lone fragment, the merge must NOT join them
    def evDf(rows: Seq[(Long, Long, Long)]) = rows
      .map { case (u, t, id) =>
        (id, new java.sql.Timestamp(t / 1000L), u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch1 = evDf(Seq((1L, 0L, 10L), (1L, 20 * min, 11L),
      (2L, 0L, 20L)))
    val batch2 = evDf(Seq((1L, 10 * min, 12L), (1L, 30 * min, 13L),
      (1L, 150 * min, 14L), (2L, 40 * min, 21L)))
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    land(batch1, "a1.parquet")
    SignatureStore.catchUpSessions(spark, watch, store)
    land(batch2, "a2.parquet")
    SignatureStore.catchUpSessions(spark, watch, store)
    val got = SignatureStore.storedSessions(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(
      (1L, 1L, 4L, 0L, 30 * min),       // merged interleaved session
      (1L, 2L, 1L, 150 * min, 150 * min),
      (2L, 1L, 1L, 0L, 0L),             // 40-min gap stays split
      (2L, 2L, 1L, 40 * min, 40 * min)))
    // and on the real corpus: parity-split store == one-shot batch face
    val oneShot = graft.analytics.Tpch.qSessionize(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val stored = SignatureStore.gatedSessions(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot)
  }

  test("seq store: fragments interleaved and OUT OF ORDER across " +
       "batches merge to the one-shot match report") {
    val watch = Files.createTempDirectory("graft_seqs_watch").toString
    val store = Files.createTempDirectory("graft_seqs_store").toString
    val s = spark; import s.implicits._
    // global order for user 1: v c v p  (one match "vcvp") - but
    // batch 1 carries events 2 and 4, batch 2 carries 1 and 3, so
    // each batch-local fragment is NOT a prefix of the history and
    // batch 2 is strictly OLDER than batch 1's last event (the
    // arrival shape the markov store must reject; here it is exact)
    def evDf(rows: Seq[(Long, Long, String)]) = rows
      .map { case (id, t, ty) =>
        (id, new java.sql.Timestamp(t), 1L, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    land(evDf(Seq((2L, 2000L, "click"), (4L, 4000L, "purchase"))),
      "a1.parquet")
    SignatureStore.catchUpSeq(spark, watch, store)
    land(evDf(Seq((1L, 1000L, "view"), (3L, 3000L, "view"))),
      "a2.parquet")
    SignatureStore.catchUpSeq(spark, watch, store)
    val got = SignatureStore.storedSeq(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq((1L, 4L, 1L, "vcvp")), s"seq store merge wrong: $got")
  }

  test("cohort store: a later-arriving older batch re-assigns cohorts") {
    val watch = Files.createTempDirectory("graft_cohort_watch").toString
    val store = Files.createTempDirectory("graft_cohort_store").toString
    val s = spark; import s.implicits._
    val week = graft.analytics.Behavior.cohortWeekUs
    def evDf(rows: Seq[(Long, Long, Long)]) = rows
      .map { case (u, t, id) =>
        (id, new java.sql.Timestamp(t / 1000L), u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // batch 1: user 1 active in weeks 2 and 3 -> provisional cohort 2
    land(evDf(Seq((1L, 2 * week, 10L), (1L, 3 * week, 11L))), "a1.parquet")
    SignatureStore.catchUpCohort(spark, watch, store)
    val early = SignatureStore.storedCohort(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(early == Set((2L, 0L, 1L), (2L, 1L, 1L)))
    // batch 2: user 1's week-0 activity arrives LATE; user 2 in week 2
    land(evDf(Seq((1L, week / 2, 12L), (2L, 2 * week, 20L))),
      "a2.parquet")
    SignatureStore.catchUpCohort(spark, watch, store)
    val got = SignatureStore.storedCohort(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1's cohort moved from 2 to 0 (offsets 0, 2, 3); user 2 is
    // its own cohort at week 2 - the deferred matrix re-derived both
    assert(got == Set((0L, 0L, 1L), (0L, 2L, 1L), (0L, 3L, 1L),
      (2L, 0L, 1L)))
    // on the real corpus: parity-split store == one-shot batch face
    val oneShot = graft.analytics.Behavior.qCohort(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val stored = SignatureStore.gatedCohort(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot)
  }

  test("tfidf store: a later batch's vocabulary re-scores earlier " +
       "documents (idf is never storable)") {
    val watch = Files.createTempDirectory("graft_tfidf_watch").toString
    val store = Files.createTempDirectory("graft_tfidf_store").toString
    val s = spark; import s.implicits._
    def docDf(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // batch 1: "rare" appears only in doc 1 of 2 -> its top keyword
    land(docDf(Seq((1L, "rare alpha beta"), (2L, "alpha beta gamma"))),
      "a1.parquet")
    SignatureStore.catchUpTfidf(spark, watch, store)
    val early = SignatureStore.storedTfidf(spark, store)
      .filter(col("doc_id") === 1L && col("term") === "rare").collect()
    assert(early.head.getLong(2) == 1L,
      s"doc 1's top term should be 'rare': ${early.toSeq}")
    val earlyScore = early.head.getDouble(3)
    // batch 2: two more docs BOTH containing "rare" -> df(rare) 1->3
    // of 4 docs while alpha/beta stay at 2: doc 1's stored tf is
    // untouched but 'rare' loses both score and rank
    land(docDf(Seq((3L, "rare delta"), (4L, "rare epsilon"))),
      "a2.parquet")
    SignatureStore.catchUpTfidf(spark, watch, store)
    val later = SignatureStore.storedTfidf(spark, store)
      .filter(col("doc_id") === 1L && col("term") === "rare").collect()
    assert(later.head.getLong(2) > 1L,
      s"'rare' must lose the top rank as it spreads: ${later.toSeq}")
    assert(later.head.getDouble(3) < earlyScore,
      s"rare's idf must fall as it spreads: $earlyScore -> " +
        s"${later.head.getDouble(3)}")
    // on the real corpus: parity-split store == one-shot batch face
    val oneShot = graft.pipeline.TextAnalysis.tfidf(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val stored = SignatureStore.gatedTfidf(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot)
  }

  test("bm25 store: split-doc landings merge exactly (bag-of-words); " +
       "parity-split store == one-shot batch face") {
    val watch = Files.createTempDirectory("graft_bm25_watch").toString
    val store = Files.createTempDirectory("graft_bm25_store").toString
    val s = spark; import s.implicits._
    def docDf(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // doc 1 arrives SPLIT across the two landings; doc 2 whole. The
    // stored ranking must equal the batch face over the merged text -
    // dl and tf partials add exactly, and doc 2's score shifts when
    // batch 2 moves N/avgdl/df (scores are never storable).
    land(docDf(Seq((1L, "query join dup"), (2L, "batch batch filler"))),
      "a1.parquet")
    SignatureStore.catchUpBm25(spark, watch, store)
    land(docDf(Seq((1L, "vector batch pad pad"), (3L, "plain filler"))),
      "a2.parquet")
    SignatureStore.catchUpBm25(spark, watch, store)
    val stored = SignatureStore.storedBm25(spark, store)
      .collect().map(_.toSeq).toSet
    val merged = Files.createTempDirectory("graft_bm25_merged").toString
    docDf(Seq((1L, "query join dup vector batch pad pad"),
        (2L, "batch batch filler"), (3L, "plain filler")))
      .write.mode("overwrite").parquet(s"$merged/documents.parquet")
    val oneShotSmall = graft.pipeline.TextAnalysis.bm25(spark, merged)
      .collect().map(_.toSeq).toSet
    assert(stored == oneShotSmall,
      s"split-doc store drifted: $stored vs $oneShotSmall")
    // on the real corpus: parity-split store == one-shot batch face
    val oneShot = graft.pipeline.TextAnalysis.bm25(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val full = SignatureStore.gatedBm25(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(full == oneShot)
  }

  test("simhash store: parity-split signature facts reproduce the " +
       "one-shot pair join (cross-batch pairs included)") {
    val oneShot = graft.pipeline.Dedup.simhashPairs(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val stored = SignatureStore.gatedSimhash(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot)
    // the parity split guarantees cross-batch pairs exist whenever the
    // one-shot answer has an even-odd pair - assert the fixture does
    val crossBatch = oneShot.exists(r =>
      r(0).asInstanceOf[Long] % 2 != r(1).asInstanceOf[Long] % 2)
    assert(crossBatch, "fixture must exercise cross-batch pairing")
  }

  test("ahash store: parity-split image signatures reproduce the " +
       "one-shot perceptual pair join") {
    val oneShot = graft.pipeline.Multimodal.ahashPairs(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val stored = SignatureStore.gatedAhash(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot && oneShot.nonEmpty)
    val crossBatch = oneShot.exists(r =>
      r(0).asInstanceOf[Long] % 2 != r(1).asInstanceOf[Long] % 2)
    assert(crossBatch, "fixture must exercise cross-batch pairing")
  }

  test("semantic store: parity-split vector facts reproduce the " +
       "one-shot SemDeDup verdict (cross-batch dominance included)") {
    val oneShot = graft.pipeline.Similarity.ddSemantic(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val stored = SignatureStore.gatedSemantic(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot)
    // cross-batch dominance: some dropped vector's canonical must have
    // the opposite vec_id parity (else the split never exercised the
    // cross-batch pairing the store exists for)
    val cross = oneShot.exists { r =>
      r(3) != null &&
        r(0).asInstanceOf[Long] % 2 != r(3).asInstanceOf[Long] % 2
    }
    assert(cross, "fixture must exercise cross-batch dominance")
  }

  test("backoff store: a later batch's train trigrams re-score " +
       "earlier held-out docs (the LM is never storable)") {
    val watch = Files.createTempDirectory("graft_sbo_watch").toString
    val store = Files.createTempDirectory("graft_sbo_store").toString
    val s = spark; import s.implicits._
    def docDf(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // batch 1: train doc 0 "alpha beta gamma" + held-out doc 1 "delta
    // alpha beta" -> doc 1's trigram (delta,alpha,beta) is UNSEEN (2
    // backoff steps at i=3; (alpha,beta) bigram hits at i=3's fallback)
    land(docDf(Seq((0L, "alpha beta gamma"), (1L, "delta alpha beta"))),
      "a1.parquet")
    SignatureStore.catchUpBackoff(spark, watch, store)
    val early = SignatureStore.storedBackoff(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toList
    assert(early.map(_._1) == List(1L))
    val (_, bo1, nll1) = early.head
    assert(bo1 > 0L, s"the unseen trigram must back off: $bo1")
    // batch 2: train doc 2 containing "delta alpha beta" - doc 1's
    // trigram becomes a HIT under the summed partials
    land(docDf(Seq((2L, "delta alpha beta delta alpha beta"))),
      "a2.parquet")
    SignatureStore.catchUpBackoff(spark, watch, store)
    val later = SignatureStore.storedBackoff(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toList
    val (_, bo2, nll2) = later.head
    assert(bo2 < bo1, s"new train trigrams must cut backoffs: $bo1 -> $bo2")
    assert(nll2 != nll1, "the stored score must re-derive under the " +
      "evolved LM")
    // on the real corpus: interleaved-parity store == one-shot face
    val oneShot = graft.pipeline.TextAnalysis.backoffNll(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val full = SignatureStore.gatedBackoff(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(full == oneShot)
  }

  test("decay store: a later batch's newer day halves earlier weights") {
    val watch = Files.createTempDirectory("graft_decay_watch").toString
    val store = Files.createTempDirectory("graft_decay_store").toString
    val s = spark; import s.implicits._
    val day = graft.analytics.TimeSeries.decayHalflifeUs
    def evDf(rows: Seq[(Long, Long, Long)]) = rows
      .map { case (u, t, id) =>
        (id, new java.sql.Timestamp(t / 1000L), u, "view", 1.0,
          """{"k": 5}""") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def decayed(): Map[Long, (Long, Long)] =
      SignatureStore.storedDecay(spark, store).collect()
        .map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    // batch 1: user 1, two events on day 0 -> age 0, full weight
    land(evDf(Seq((1L, 10L, 10L), (1L, 20L, 11L))), "a1.parquet")
    SignatureStore.catchUpDecay(spark, watch, store)
    assert(decayed()(1L) == ((2L, 2000000L)))
    // batch 2: user 2 on day 1 -> user 1's day-0 weight HALVES
    land(evDf(Seq((2L, day + 10L, 20L))), "a2.parquet")
    SignatureStore.catchUpDecay(spark, watch, store)
    val d2 = decayed()
    assert(d2(1L) == ((2L, 1000000L)),
      "stored day-0 bucket must re-weight under the new max day")
    assert(d2(2L) == ((1L, 1000000L)))
    // and on the real corpus: parity-split store == one-shot batch
    val oneShot = graft.analytics.TimeSeries.qDecayCount(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val stored = SignatureStore.gatedDecay(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot)
  }

  test("keyphrase store: doc-parity landings serve the one-shot " +
       "top-k through the evolving word stats") {
    val oneShot = graft.pipeline.TextAnalysis.keyphrase(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stored = SignatureStore.gatedKeyphrase(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stored == oneShot)
  }

  test("pmi store: the lm2 store's bigram partials serve the one-shot " +
       "collocation report") {
    val oneShot = graft.pipeline.TextAnalysis.pmi(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stored = SignatureStore.gatedPmi(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stored == oneShot)
  }

  test("trend store: one day-count landing serves BOTH the sign-pair " +
       "test and the slope-median estimator") {
    val mk = graft.analytics.TimeSeries.qMannKendall(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(SignatureStore.gatedMannKendall(spark, sfDir)
      .collect().map(_.toSeq).toSeq == mk)
    val ts = graft.analytics.TimeSeries.qTheilsen(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(SignatureStore.gatedTheilsen(spark, sfDir)
      .collect().map(_.toSeq).toSeq == ts)
    val cu = graft.analytics.TimeSeries.qCusum(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(SignatureStore.gatedCusum(spark, sfDir)
      .collect().map(_.toSeq).toSeq == cu)
  }

  test("jsd store: doc-parity (source, term) partials serve the " +
       "one-shot drift report through the evolving marginals") {
    val oneShot = graft.pipeline.TextAnalysis.jsdDrift(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stored = SignatureStore.gatedJsd(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stored == oneShot)
  }

  test("stl store: parity-split bucket partials sum to the one-shot " +
       "decomposition") {
    val oneShot = graft.analytics.TimeSeries.qStl(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stored = SignatureStore.gatedStl(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stored == oneShot)
  }

  test("xcorr store: parity-split bucket partials sum to the one-shot " +
       "CCF") {
    val oneShot = graft.analytics.TimeSeries.qXcorr(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stored = SignatureStore.gatedXcorr(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stored == oneShot)
  }

  test("markov store: the junction transition between batches is " +
       "stitched from boundary records") {
    val watch = Files.createTempDirectory("graft_mkv_watch").toString
    val store = Files.createTempDirectory("graft_mkv_store").toString
    val s = spark; import s.implicits._
    def evDf(rows: Seq[(Long, Long, String)]) = rows
      .map { case (id, t, ty) => (id, t * 1000L, 1L, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // batch 1: a -> b (within-batch a→b); batch 2: c -> a (within-batch
    // c→a). The junction b→c exists ONLY across the boundary.
    land(evDf(Seq((1L, 1000L, "a"), (2L, 2000L, "b"))), "a1.parquet")
    SignatureStore.catchUpMarkov(spark, watch, store)
    land(evDf(Seq((3L, 3000L, "c"), (4L, 4000L, "a"))), "a2.parquet")
    SignatureStore.catchUpMarkov(spark, watch, store)
    val got = SignatureStore.storedMarkov(spark, store).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L)),
      s"stitched matrix wrong: $got")
    // and on the real corpus: midpoint-day split store == one-shot batch
    val oneShot = graft.analytics.Behavior.qMarkov(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stored = SignatureStore.gatedMarkov(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stored == oneShot)
    // arrival contract ENFORCED: a batch whose events precede the
    // stored timeline must fail loudly, not corrupt the junctions
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      land(evDf(Seq((9L, 3500L, "d"))), "a3.parquet") // between a2's events
      SignatureStore.catchUpMarkov(spark, watch, store)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("arrival contract violated")),
      s"expected the arrival-contract error, got: $err")
  }

  test("three faces agree: incremental store == streaming emission == batch") {
    // the streaming face consumes sfDir's documents.parquet in place;
    // the store face replays the same corpus as two appends - both
    // must land on the batch relation's pair set
    val stream = graft.streaming.StreamSum.streamLshCandidates(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = SignatureStore.gatedCandidates(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.minhashLsh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch)
    assert(stored == batch)
  }
}
