package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query profiling harness (optimization-round instrumentation,
  * not part of the driver contract): runs the named queries exactly as
  * Bench does (noop sink) with a listener counting jobs / stages /
  * tasks and summing task time, so "where does the wall go" is
  * answerable — scheduler overhead (many tiny jobs/stages) vs real
  * compute (task time >> wall means parallel compute; task time <<
  * wall means the driver is the bottleneck).
  *
  * Usage: runMain graft.tools.ProfileQueries <sfDir> <name,name,...>
  */
object ProfileQueries {

  private class Counter extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) taskTimeMs += t.taskInfo.duration
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    // warm-up
    try graft.SparkEntry.entry(spark).write.format("noop")
      .mode("overwrite").save()
    catch { case _: Throwable => }
    (1 to reps).foreach { pass =>
      graft.core.Memo.releaseAll(spark)
      names.foreach { name =>
        graft.SparkEntry.queries.get(name) match {
          case Some(fn) =>
            Thread.sleep(200) // let listener drain
            c.reset()
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val wall = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300) // listener events are async
            println(f"[prof] pass=$pass $name%-28s wall=$wall%7.2fs " +
              f"jobs=${c.jobs}%4d stages=${c.stages}%4d tasks=${c.tasks}%6d " +
              f"taskTime=${c.taskTimeMs / 1e3}%8.1fs")
          case None => println(s"[prof] unknown query: $name")
        }
      }
    }
    spark.stop()
  }
}
