package graft.probe

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-trigger cost of the UPDATE-mode foreachBatch PUBLISH at a
  * large key base — the measurement VERDICT r14 #3 asked for: the
  * `ss_stream_count_sink` / `ss_stream_lastn_sink` faces claim
  * O(delta) per trigger through `BucketedSnapshotCacheSink.mergeDelta`
  * (their foreachBatch body IS `sink.mergeDelta(name, batch, keys)` —
  * the stateful agg upstream is priced by the bench faces themselves),
  * but only the compaction path had a 10M-key probe (r12). This probe
  * builds a fixed 10M-key base, then measures every mergeDelta trigger
  * at delta = 1k / 100k / 1M keys (3 triggers each, keys spread across
  * buckets — the worst case for touched-bucket spread), reporting the
  * wall and whether the trigger crossed the compactFrac threshold (the
  * amortized constant, billed by name, never hidden in the slope).
  * An append is the delta write alone; a compaction adds one shuffled
  * write (`PublishJobsProbe` lists each publish's jobs).
  *
  *   sbt "Test/runMain graft.probe.SinkPublishProbe [baseRows]"
  */
object SinkPublishProbe {

  def main(args: Array[String]): Unit = {
    val baseRows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files
      .createTempDirectory("graft_publish_probe").toString
    // the bench faces' deployment default: 64 buckets, compactFrac .25
    val sink = new graft.sinks.BucketedSnapshotCacheSink(root, Seq("k"))
    val base = spark.range(baseRows).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    val t0 = System.nanoTime()
    sink.put("c", base)
    println(f"[publish-probe] base=$baseRows%,d keys " +
      f"put=${(System.nanoTime() - t0) / 1e9}%.2fs (setup, billed once)")

    var trigger = 0
    def versionsWithBase(): Set[Long] = {
      val d = new java.io.File(s"$root/c")
      d.listFiles().filter(_.isDirectory)
        .filter(f => new java.io.File(f, "base").isDirectory)
        .map(_.getName.stripPrefix("v=").toLong).toSet
    }
    for (deltaKeys <- Seq(1000L, 100000L, 1000000L); rep <- 1 to 3) {
      trigger += 1
      // key replacement spread across the key range (≙ the update-mode
      // stream emitting changed keys), values refreshed per trigger
      val delta = spark.range(deltaKeys)
        .select((col("id") * (baseRows / deltaKeys)).as("k"),
          concat(lit(s"t$trigger-"), col("id")).as("v"))
      val before = versionsWithBase()
      val t1 = System.nanoTime()
      sink.mergeDelta("c", delta, Seq("k"))
      val w = (System.nanoTime() - t1) / 1e9
      val compacted = versionsWithBase() != before
      println(f"[publish-probe] trigger=$trigger delta=$deltaKeys%,d " +
        f"wall=$w%.2fs compacted=$compacted")
    }
    // serving survives the whole sequence: the published state still
    // answers with base+pending merged (sanity, not a timing)
    val got = sink.get(spark, "c").count()
    println(f"[publish-probe] final snapshot rows=$got%,d (base intact)")

    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    spark.stop()
  }
}
