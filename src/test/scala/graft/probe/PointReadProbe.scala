package graft.probe

import org.apache.spark.sql.SparkSession

/** Driver cost of the bucketed sink's serving reads at 0, 1 and 2
  * pending deltas: `SinkCountSummaryView` construction (the full
  * relation over driver-listed files), `getCount` (the job-free point
  * read), `getKeys` of 20 keys collected and a `countsForSubjAction`
  * slice (a Spark job over the full relation), each as the median of
  * warm reps; `getCount` and `getKeys` take `reps` samples each.
  * Shape: a count-cache base of `baseRows` keys in the default 64
  * buckets, deltas of about 50 changed keys written as 4 files.
  *
  *   sbt "Test/runMain graft.probe.PointReadProbe [baseRows] [reps]"
  */
object PointReadProbe {

  def main(args: Array[String]): Unit = {
    val baseRows = args.headOption.map(_.toInt).getOrElse(6000)
    val reps = if (args.length > 1) args(1).toInt else 300
    val spark = graft.core.Graft.ensureConf(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val keys = graft.streaming.StreamSum.countSinkKeys
    val root = java.nio.file.Files
      .createTempDirectory("graft_point_probe").toString
    val sink = new graft.sinks.BucketedSnapshotCacheSink(root, keys,
      compactFrac = 1e9)
    def state(n: Int, from: Int, cnt: Long) =
      (from until from + n).map(i => ("c0", i.toLong % 97, s"a${i % 3}",
        i.toLong, cnt, 1000L + i)).toDF(keys :+ "cnt" :+ "last_t": _*)
    sink.put("n", state(baseRows, 0, 1L))

    def ms(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    for (pending <- 0 to 2) {
      if (pending > 0) sink.mergeDelta("n",
        state(50, pending * 37, 10L + pending).repartition(4), keys)
      val view = () => new graft.api.SinkCountSummaryView(spark, sink, "n", "c0")
      val v = view()
      // rep i reads its own key; the column warms up on keys of its
      // own (reader memo, codegen, class loading, the JIT), as the
      // multiget below does
      def getCount(i: Int) = {
        val k = (i * 131) % baseRows
        v.getCount(k % 97, s"a${k % 3}", k)
      }
      (0 until math.max(5, reps / 10)).foreach(i => getCount(reps + i))
      val viewMs = median((1 to 5).map(_ => ms(view())))
      val getMs = median((0 until reps).map(i => ms(getCount(i))))
      // rep i reads its own 20 keys, after a warm-up of its own: the
      // getCount warm-up does not reach the multiget's code paths
      def multiget(i: Int) = sink.getKeys(spark, "n", (0 until 20).map { j =>
        val k = ((i * 20 + j) * 131) % baseRows
        Seq[Any]("c0", (k % 97).toLong, s"a${k % 3}", k.toLong)
      }).collect()
      (0 until math.max(5, reps / 10)).foreach(i => multiget(reps + i))
      val multiMs = median((0 until reps).map(i => ms(multiget(i))))
      (1 to 10).foreach(i => v.countsForSubjAction(i.toLong, "a0"))
      val sliceMs = median((1 to 30).map(i => ms(
        v.countsForSubjAction(i.toLong, "a0", "a1", "a2"))))
      println(f"[point-read-probe] pending=$pending view=$viewMs%.1fms " +
        f"getCount=$getMs%.2fms getKeys(20)=$multiMs%.2fms " +
        f"slice=$sliceMs%.1fms")
    }
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.stop()
  }
}
