package graft.probe

import org.apache.spark.sql.SparkSession

/** The Spark jobs of each `BucketedSnapshotCacheSink` publish, listed
  * by a SparkListener: the backfill (`mergeDelta` on an empty sink,
  * which is a `put`), two appends and a compaction, in the count-cache
  * shape the ingest benchmark publishes (a `baseRows`-key base in the
  * default 64 buckets, deltas of `deltaRows` changed keys, the default
  * compactFrac, so the third delta compacts). Every cycle runs on a
  * fresh sink; the last cycle's jobs are printed with their stage
  * names and tasks, plus the formatted plan of every query the
  * compaction executed and each publish's wall clock.
  *
  *   sbt "Test/runMain graft.probe.PublishJobsProbe [cycles] [baseRows] [deltaRows]"
  */
object PublishJobsProbe {

  def main(args: Array[String]): Unit = {
    val cycles = args.headOption.map(_.toInt).getOrElse(5)
    val baseRows = if (args.length > 1) args(1).toInt else 6000
    val deltaRows = if (args.length > 2) args(2).toInt else 600
    val spark = graft.core.Graft.ensureConf(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val keys = graft.streaming.StreamSum.countSinkKeys
    def state(n: Int, from: Int, cnt: Long) =
      (from until from + n).map(i => ("c0", i.toLong % 97, s"a${i % 3}",
        i.toLong, cnt, 1000L + i)).toDF(keys :+ "cnt" :+ "last_t": _*)
        .repartition(4)

    // each job with the action that ran it: the description of its SQL
    // execution, the call site of the action ("parquet at ...")
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            actions.put(s.executionId.toString, s.description)
          case _ => ()
        }
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val exec = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .getOrElse("-")
          jobs.add(s"job ${e.jobId} of '${actions.getOrDefault(exec, "")}': " +
            e.stageInfos.map(s => s"stage ${s.stageId} tasks=${s.numTasks}")
              .mkString(", "))
        }
      })
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          plans.add(s"-- $funcName\n" + qe.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    def publish(label: String, last: Boolean)(f: => Unit): Unit = {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      jobs.clear(); plans.clear()
      val t0 = System.nanoTime()
      f
      val ms = (System.nanoTime() - t0) / 1e6
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val js = jobs.toArray(Array.empty[String])
      println(f"[publish-jobs] $label%-10s ${js.length}%d jobs $ms%.0f ms")
      if (last) {
        js.foreach(j => println(s"  $j"))
        if (label == "compaction")
          plans.toArray(Array.empty[String]).foreach(println)
      }
    }
    for (c <- 1 to cycles) {
      val last = c == cycles
      println(s"[publish-jobs] cycle $c")
      val root = java.nio.file.Files
        .createTempDirectory("graft_publish_jobs").toString
      val sink = new graft.sinks.BucketedSnapshotCacheSink(root, keys)
      publish("backfill", last)(sink.mergeDelta("n",
        state(baseRows, 0, 1L), keys))
      for ((label, r) <- Seq("append", "append", "compaction").zipWithIndex)
        publish(label, last)(sink.mergeDelta("n",
          state(deltaRows, r * deltaRows / 2, 2L + r), keys))
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    spark.stop()
  }
}
