package graft.probe

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Spark jobs of the connected-components fixpoint
  * (`Dedup.resolveComponents`) behind `dd_clusters`, `q_concomp` and the
  * store cluster faces. On a corpus dir (a `documents.parquet` under it)
  * it builds the verified near-dup tier, then times warm runs of the
  * fixpoint over that tier and lists the jobs of the last one: id,
  * stages and tasks (skipped stages included), wall and call site. It
  * also prints the rounds taken on chain-shaped and random graphs.
  *
  *   sbt "Test/runMain graft.probe.ClusterJobsProbe <corpusDir> [reps]"
  */
object ClusterJobsProbe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    // the session settings of graft.Bench, on 4 cores
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // one listener-bus thread delivers a listener's events in order
    val jobs = scala.collection.mutable.ArrayBuffer.empty[String]
    val starts = scala.collection.mutable.Map.empty[Int, SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts(e.jobId) = e
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = starts.remove(e.jobId).get
        jobs += f"job ${e.jobId}%4d stages=${s.stageInfos.size}%2d " +
          f"tasks=${s.stageInfos.map(_.numTasks).sum}%3d " +
          f"${e.time - s.time}%4d ms @ ${s.stageInfos.maxBy(_.stageId).name}"
      }
    }
    def listed(f: => Int): (Int, Seq[String]) = {
      val sc = spark.sparkContext
      org.apache.spark.ListenerDrain(sc)
      sc.addSparkListener(l)
      try {
        val r = f
        org.apache.spark.ListenerDrain(sc)
        (r, jobs.toList)
      } finally { sc.removeSparkListener(l); jobs.clear() }
    }
    def run(edges: org.apache.spark.sql.DataFrame): Int = {
      val (out, rounds) = graft.pipeline.Dedup.resolveComponents(spark, edges)
      out.collect()
      org.apache.spark.sql.GraftBridge.unpersistMaterialized(out)
      rounds
    }

    // a checkpointed leaf, as the session's verified tier is
    val verified = graft.pipeline.Dedup.ngramJaccard(spark, dir)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nEdges = verified.count()
    val ms = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); run(verified)
      (System.nanoTime() - t0) / 1e6
    }
    val (rounds, list) = listed(run(verified))
    println(f"[cluster-jobs] dir=$dir edges=$nEdges rounds=$rounds " +
      s"jobs=${list.size} warm_ms=${ms.map(m => f"$m%.0f").mkString("/")}")
    list.foreach(j => println(s"[cluster-jobs]   $j"))

    val rnd = new scala.util.Random(7)
    val shapes = Seq(
      "65-chain" -> (0L until 64L).map(i => (i, i + 1)),
      "1000-chain" -> (0L until 999L).map(i => (i, i + 1)),
      "1000-chain reversed" -> (0L until 999L).map(i => (i + 1, i)),
      "random 2000 nodes" -> (0 until 2000).map { _ =>
        (rnd.nextInt(2000).toLong, rnd.nextInt(2000).toLong)
      })
    for ((name, e) <- shapes) {
      val (r, l2) = listed(run(e.toDF("doc_a", "doc_b")))
      println(s"[cluster-jobs] shape=$name rounds=$r " +
        s"jobs=${l2.size}")
    }
    // CorpusScaleSmoke's chain, on these 4 cores and 4 partitions
    val chain = spark.range(99999).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    val t0 = System.nanoTime()
    val r = run(chain)
    println(f"[cluster-jobs] shape=100000-chain rounds=$r " +
      f"ms=${(System.nanoTime() - t0) / 1e6}%.0f")
    spark.stop()
  }
}
