package graft.probe

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured cost of a `BucketedSnapshotCacheSink` COMPACTION trigger —
  * the sink's worst per-trigger case, priced separately from the
  * steady-state O(delta) append the bench faces report (VERDICT r10
  * #6). For a base of N keys over B buckets and a pending-delta set of
  * d distinct keys, the compaction should rewrite only the
  * ~B·(1−e^(−d/B)) buckets the deltas touch; this probe builds the
  * base, lands deltas until the compactFrac threshold trips, and
  * reports the compaction's wall clock and the touched-bucket count
  * (buckets whose home version advanced) against the prediction. The
  * compaction is the delta write plus one shuffled write of the
  * touched buckets and the deltas; `PublishJobsProbe` lists the jobs.
  *
  *   sbt "Test/runMain graft.probe.CompactionProbe [baseRows]"
  */
object CompactionProbe {

  def main(args: Array[String]): Unit = {
    val baseRows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def run(numBuckets: Int, deltaKeys: Long): Unit = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_cmp_probe").toString
      // compactFrac tiny: the FIRST mergeDelta after the base compacts,
      // so the measured wall is one compaction trigger, nothing else
      val sink = new graft.sinks.BucketedSnapshotCacheSink(
        root, Seq("k"), numBuckets = numBuckets, compactFrac = 1e-9)
      val base = spark.range(baseRows).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v"))
      val t0 = System.nanoTime()
      sink.put("c", base)
      val putS = (System.nanoTime() - t0) / 1e9
      // delta: every deltaKeys-th key refreshed (spread across buckets,
      // the worst case for touched-bucket count at a given d)
      val delta = spark.range(deltaKeys)
        .select((col("id") * (baseRows / deltaKeys)).as("k"),
          lit("NEW").as("v"))
      val t1 = System.nanoTime()
      sink.mergeDelta("c", delta, Seq("k"))
      val cmpS = (System.nanoTime() - t1) / 1e9
      // touched = buckets whose home version is the compacted one
      val fs = new java.io.File(s"$root/c/v=2/base")
      val touched =
        if (fs.isDirectory) fs.listFiles().count(_.getName.startsWith("_b="))
        else -1
      val predicted = numBuckets *
        (1.0 - math.exp(-deltaKeys.toDouble / numBuckets))
      println(f"[cmp-probe] base=$baseRows%,d B=$numBuckets d=$deltaKeys%,d" +
        f" put=$putS%.2fs compact=$cmpS%.2fs touched=$touched" +
        f" predicted=$predicted%.1f")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }

    // d << B (point refresh), d ~ B, and d >> B (bulk refresh: every
    // bucket touched - the delta-log's raison d'etre)
    for (d <- Seq(4L, 64L, 4096L)) run(64, d)
    // wider layout: same deltas touch a smaller FRACTION
    for (d <- Seq(64L, 4096L)) run(512, d)
    spark.stop()
  }
}
