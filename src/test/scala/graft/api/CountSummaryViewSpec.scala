package graft.api

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The facade reproduces the reference's query_api_test.clj expectations
  * over the simple-db fixture.
  */
class CountSummaryViewSpec extends SparkSpec {

  private def view: CountSummaryView = {
    val s = spark; import s.implicits._
    new CountSummaryView(Seq(
      (0L, "a0", 0L, 1L, 1000L),
      (0L, "a0", 1L, 5L, 1001L),
      (0L, "a1", 1L, 2L, 1005L),
      (1L, "a0", 1L, 1L, 1002L),
      (1L, "a0", 3L, 10L, 1010L),
      (1L, "a0", 5L, 7L, 1008L))
      .toDF("s", "a", "o", "cnt", "last_t"))
  }

  test("getCount present and absent") {
    assert(view.getCount(0L, "a0", 1L) == ((1L, 5L, Some(1001L))))
    assert(view.getCount(0L, "a0", 99L) == ((99L, 0L, None)))
  }

  test("actionsForSubj") {
    assert(view.actionsForSubj(0L) == Seq("a0", "a1"))
    assert(view.actionsForSubj(42L) == Seq.empty)
  }

  test("countsForSubjAction merges leaves") {
    // s0 across a0+a1: o0 [1 1000], o1 [5+2=7, max(1001,1005)=1005]
    assert(view.countsForSubjAction(0L, "a0", "a1") ==
      Seq((0L, 1L, 1000L), (1L, 7L, 1005L)))
  }

  test("sumCounts matches reference expectations") {
    assert(view.sumCounts(0L) == 8L)
    assert(view.sumCounts(1L) == 18L)
    assert(view.sumCounts(0L, "a1") == 2L)
    assert(view.sumCounts(42L) == 0L)
  }

  test("tuplesForSubjAction with countTime descending") {
    val r = view.tuplesForSubjAction(
      CountSummaryView.ByCountTime(ascending = false), Some(1L))
    assert(r.map(_._4) == Seq(10L, 7L, 1L))
    assert(r.head._3 == 3L)
  }

  test("tuplesForSubjAction unsorted ≙ null comparator") {
    val r = view.tuplesForSubjAction(CountSummaryView.Unsorted, None)
    assert(r.size == 6)
  }

  test("sink-backed view: same query vectors; getCount reads ONE base " +
       "bucket and sees the pending delta") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_qapi_sink").toString
    val keys = Seq("cache", "s", "a", "o")
    // compactFrac huge: the delta stays pending, so getCount must merge
    val sink = new graft.sinks.BucketedSnapshotCacheSink(
      root, keys, numBuckets = 16, compactFrac = 1e9)
    def st(rows: (Long, String, Long, Long, Long)*) =
      rows.toDF("s", "a", "o", "cnt", "last_t")
        .select(org.apache.spark.sql.functions.lit("c0").as("cache"),
          org.apache.spark.sql.functions.col("*"))
    // base holds a STALE row for (0,a0,1) and lacks (1,a0,5); the
    // pending delta fixes both - merged state == the fixture
    sink.put("qapi", st(
      (0L, "a0", 0L, 1L, 1000L),
      (0L, "a0", 1L, 999L, 9L), // stale: delta must win
      (0L, "a1", 1L, 2L, 1005L),
      (1L, "a0", 1L, 1L, 1002L),
      (1L, "a0", 3L, 10L, 1010L)))
    sink.mergeDelta("qapi", st(
      (0L, "a0", 1L, 5L, 1001L),
      (1L, "a0", 5L, 7L, 1008L)), keys)

    val v = new SinkCountSummaryView(spark, sink, "qapi", "c0")
    // the full query_api_test vector set, served off the sink
    assert(v.getCount(0L, "a0", 1L) == ((1L, 5L, Some(1001L))))
    assert(v.getCount(1L, "a0", 5L) == ((5L, 7L, Some(1008L))))
    assert(v.getCount(0L, "a0", 99L) == ((99L, 0L, None)))
    assert(v.actionsForSubj(0L) == Seq("a0", "a1"))
    assert(v.countsForSubjAction(0L, "a0", "a1") ==
      Seq((0L, 1L, 1000L), (1L, 7L, 1005L)))
    assert(v.sumCounts(0L) == 8L)
    assert(v.sumCounts(1L) == 18L)
    val r = v.tuplesForSubjAction(
      CountSummaryView.ByCountTime(ascending = false), Some(1L))
    assert(r.map(_._4) == Seq(10L, 7L, 1L))

    // the point read needs its key's home bucket and no other base
    // file: with every other `_b=` dir deleted it still answers, while
    // the full relation the slice queries read fails
    val home = Seq(("c0", 0L, "a0", 1L)).toDF("cache", "s", "a", "o")
      .select(org.apache.spark.sql.functions.expr(
        "pmod(hash(cache, s, a, o), 16)")).head().getInt(0)
    val baseDirs = new java.io.File(s"$root/qapi/v=1/base").listFiles()
      .filter(_.getName.startsWith("_b="))
    assert(baseDirs.length > 1, "fixture must span several buckets")
    baseDirs.filterNot(_.getName == s"_b=$home")
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    assert(v.getCount(0L, "a0", 1L) == ((1L, 5L, Some(1001L))))
    intercept[Exception](sink.get(spark, "qapi").collect())
  }

  test("all-subjects call is bounded; oversized states fail fast") {
    val e = intercept[IllegalArgumentException](
      view.tuplesForSubjAction(CountSummaryView.Unsorted, None, 3))
    assert(e.getMessage.contains("tuplesSortedFrom"))
    // per-subject slices ignore the bound - the facade's intended use
    val ok = view.tuplesForSubjAction(CountSummaryView.Unsorted, Some(1L), 1)
    assert(ok.size == 3)
  }
}
