package graft.probe

import org.apache.spark.sql.SparkSession

/** The Spark jobs of each streaming and store gate face, counted by one
  * SparkListener: for every `graft.SparkEntry.queries` entry whose name
  * matches `regex` (default: the `ss_stream_*`, `ss_sink_*` and
  * `*_store` faces), in sorted name order, the jobs that building the
  * face's DataFrame starts (`ctor`, where every catch-up and every
  * stream face's own query runs) and the jobs of one noop write of the
  * result (`exec`), one line per face, then the totals. The session is
  * `graft.Verify`'s at `SPARK_GRAFT_CPUS` (default 4) cores. Faces share
  * session memos, so a face's count depends on the faces run before it:
  * compare runs over the same face list.
  *
  *   sbt "Test/runMain graft.probe.StreamJobsProbe <sfDir> [regex]"
  */
object StreamJobsProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pick = (if (args.length > 1) args(1)
                else "ss_stream_.*|ss_sink_.*|.*_store").r
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val started = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          started.incrementAndGet(): Unit
      })
    def jobs(f: => Unit): Int = {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val before = started.get
      f
      org.apache.spark.ListenerDrain(spark.sparkContext)
      started.get - before
    }
    var (ctorTotal, execTotal) = (0, 0)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => pick.matches(name) }
      .foreach { case (name, fn) =>
        var df: org.apache.spark.sql.DataFrame = null
        val ctor = jobs { df = fn(spark, sfDir) }
        val exec = jobs(df.write.format("noop").mode("overwrite").save())
        ctorTotal += ctor; execTotal += exec
        println(f"[stream-jobs] $name%-32s ctor $ctor%3d exec $exec%3d")
      }
    println(s"[stream-jobs] total ctor $ctorTotal exec $execTotal")
    graft.core.Memo.releaseAll(spark)
    spark.stop()
  }
}
