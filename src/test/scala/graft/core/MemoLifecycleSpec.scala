package graft.core

import graft.SparkSpec
import graft.analytics.Graph
import graft.pipeline.{CorpusOps, Dedup, Multimodal, QualityClassifier, SignatureStore, Similarity, TextAnalysis}
import graft.streaming.StreamSum
import org.apache.spark.sql.functions.col

/** Lifecycle of the per-(session, corpus) memoized relations: a session
  * that walks many corpora must be able to release what it cached, and
  * iterative operators must not leak their per-round intermediates.
  */
class MemoLifecycleSpec extends SparkSpec {

  private def persistedCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("Transform.release drops the memoized relation for a corpus") {
    Memo.releaseAll(spark)
    val before = persistedCount
    Transform.transformed(spark, sfDir).count()
    assert(persistedCount > before, "transformed must persist its memo")
    Memo.release(spark, sfDir)
    assert(persistedCount == before,
      "release must unpersist the corpus's memoized relation")
    // releasing again is a no-op; re-deriving re-populates
    Memo.release(spark, sfDir)
    Transform.transformed(spark, sfDir).count()
    assert(persistedCount > before)
    Memo.releaseAll(spark)
    assert(persistedCount == before)
  }

  test("SignatureStore.releaseAll drops shingles and bands") {
    Memo.releaseAll(spark)
    val before = persistedCount
    Dedup.minhashLsh(spark, sfDir).count()
    assert(persistedCount >= before + 2,
      "lsh must populate the shingle + band memos")
    Memo.releaseAll(spark)
    assert(persistedCount == before)
  }

  test("centroid memo canonicalizes corpus-dir spellings to one entry") {
    Memo.releaseAll(spark)
    val canonical = graft.pipeline.Similarity.trainedCentroidsFor(spark, sfDir)
    // trailing slash, dot segment, relative-style round trip: all must
    // resolve to the SAME memo entry - reference identity proves no
    // second training ran
    for (spelling <- Seq(s"$sfDir/", s"$sfDir/./",
        s"${new java.io.File(sfDir).getParent}/../testdata/sf0.001")) {
      val again = graft.pipeline.Similarity.trainedCentroidsFor(spark, spelling)
      assert(again eq canonical,
        s"'$spelling' trained a second centroid matrix instead of " +
          "hitting the canonical memo entry")
    }
    Memo.releaseAll(spark)
  }

  test("dupClusters releases its per-round intermediates") {
    Memo.release(spark, sfDir)
    val before = persistedIds
    // each round's locally checkpointed state is freed through the
    // context, like a released tier: RDD.unpersist would warn that its
    // lineage is truncated
    val logged = warnings {
      Dedup.dupClusters(spark, sfDir).count()
      Memo.release(spark, sfDir)
    }
    assert(logged.isEmpty, s"dupClusters and its release logged: $logged")
    assert((persistedIds -- before).isEmpty,
      "iteration intermediates outlived dupClusters and Memo.release: " +
        (persistedIds -- before).map(spark.sparkContext.getPersistentRDDs))
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** An id's family: the leading name of a tuple id, or the id itself. */
  private def family(id: Any): Any = id match {
    case p: Product => p.productElement(0)
    case other => other
  }

  test("Memo.releaseAll empties every registered family for the session") {
    Memo.releaseAll(spark)
    val before = persistedIds
    Transform.transformed(spark, sfDir).count()
    Graph.fwdPairsFor(spark, sfDir)
    Graph.projEdgesFor(spark, sfDir)
    QualityClassifier.trainWeights(spark, sfDir)
    TextAnalysis.learnedTableFor(spark, sfDir)
    TextAnalysis.textList(spark, sfDir, 10)
    Similarity.trainedCentroidsFor(spark, sfDir)
    Similarity.pqCodebookFor(spark, sfDir)
    Multimodal.ahashPairsTier(spark, sfDir)
    CorpusOps.benchBloomFor(spark, sfDir)
    Dedup.minhashLsh(spark, sfDir).count()
    StreamSum.streamCountState(spark, sfDir).count()
    val families = Memo.ids(spark).map(e => family(e._2)).toSet
    val expected = Set[Any]("transformed", "spread", "fwd-pairs",
      "proj-edges", "qclf-weights", "bpe-table", "ranked-list", "vec-count",
      "centroids", "pq-codebook", "ahash-sim-plan", "tier", "simhash-route",
      "bench-bloom", "shingles", "bands", "harness")
    assert(expected.subsetOf(families),
      s"families never registered: ${expected -- families}")
    Memo.releaseAll(spark)
    assert(Memo.ids(spark).isEmpty, s"left behind: ${Memo.ids(spark)}")
    assert((persistedIds -- before).isEmpty,
      "a released memo still pins RDDs: " +
        (persistedIds -- before).map(spark.sparkContext.getPersistentRDDs))
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("ss_stream_count")),
      "harness views must be dropped")
  }

  test("Memo.release drops every family's entries for the dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_release")
    try {
      for (t <- Seq("documents", "events"))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
          dir.resolve(s"$t.parquet"))
      val d = dir.toString
      Transform.transformed(spark, sfDir).count()
      Transform.transformed(spark, d).count()
      Dedup.minhashLsh(spark, d).count()
      val stale = SignatureStore.shingles(spark, d).count()
      assert(Memo.ids(spark).exists(_._1 == d))
      // rewrite the corpus in-session: half of the documents
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      Memo.release(spark, d)
      assert(!Memo.ids(spark).exists(_._1 == d),
        s"left behind: ${Memo.ids(spark).filter(_._1 == d)}")
      assert(Memo.ids(spark).exists(_._1 == sfDir),
        "other corpora's entries must stay")
      val fresh = Dedup.shinglesFrom(
        spark.read.parquet(s"$d/documents.parquet")).count()
      assert(fresh != stale)
      assert(SignatureStore.shingles(spark, d).count() == fresh,
        "shingles of the rewritten corpus must be rebuilt, not stale")
      Memo.release(spark, d)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("one corpus, one entry: a trailing slash hits the same relation") {
    val canonical = Transform.transformed(spark, sfDir)
    assert(Transform.transformed(spark, s"$sfDir/") eq canonical)
    Memo.release(spark, sfDir)
  }

  /** WARN-or-worse lines this thread logs while `f` runs. */
  private def warnings(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val thread = Thread.currentThread.getName
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("memo-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
            e.getThreadName == thread)
          seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getRootLogger
    root.addAppender(capture)
    try f finally { root.removeAppender(capture); capture.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("releasing a checkpointed tier frees its blocks without a warning") {
    // control: the capture sees the warning RDD.unpersist gives a local
    // checkpoint
    val control = spark.range(8).toDF("id").localCheckpoint()
    val rdd = control.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(warnings(rdd.unpersist(blocking = false))
      .exists(_.contains("locally checkpointed")),
      "the log capture must see RDD.unpersist's warning")
    Memo.releaseAll(spark)
    val before = persistedIds
    SignatureStore.tier(spark, sfDir, "release-probe")(
      spark.range(100).toDF("id")).count()
    assert((persistedIds -- before).nonEmpty, "the tier must be checkpointed")
    val logged = warnings(Memo.releaseAll(spark))
    assert(logged.isEmpty, s"releasing the tier logged: $logged")
    assert((persistedIds -- before).isEmpty, "the tier's blocks must be freed")
  }
}
