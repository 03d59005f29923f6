package graft.pipeline

import graft.SparkSpec
import graft.analytics.{Behavior, Sketches, TimeSeries}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Exactly-once across the incremental store families: every `catchUp*`
  * face runs on the one `SignatureStore.maintain` skeleton, so one
  * crash-replay argument covers them all. Per family, two arrivals are
  * caught up, then the newest checkpoint commit marker is deleted - a
  * crash after the batch's writes but before its commit - and the next
  * catch-up re-runs that batch. The replayed batch must overwrite its
  * own partition: the stored partial rows stay the same and the store
  * view still equals the one-shot batch face.
  */
class StoreReplaySpec extends SparkSpec {

  private def land(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_replay_tmp").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(dir, name))
  }

  /** One store family: which table arrives, how it splits into two
    * arrivals, the face's catch-up, one relation of partials it lands,
    * and its store view next to the batch face sharing its oracle.
    */
  private case class Family(name: String, table: String, split: Column,
                            catchUp: (SparkSession, String, String) => Unit,
                            partials: String,
                            view: (SparkSession, String) => DataFrame,
                            batch: (SparkSession, String) => DataFrame)

  private val eventParity = pmod(col("event_id"), lit(2)) === 0

  private val families = Seq(
    Family("additive (decay counts)", "events", eventParity,
      SignatureStore.catchUpDecay, "day_counts",
      SignatureStore.storedDecay, TimeSeries.qDecayCount),
    Family("union-distinct (cohort facts)", "events", eventParity,
      SignatureStore.catchUpCohort, "user_weeks",
      SignatureStore.storedCohort, Behavior.qCohort),
    Family("LM partials (quality gate)", "documents",
      pmod(col("doc_id"), lit(2)) === 0,
      SignatureStore.catchUpLm, "lm_term_counts",
      SignatureStore.storedQualityGate, (s, d) => QualityGate(s, d)),
    Family("sketch registers (CMS counters)", "events", eventParity,
      SignatureStore.catchUpEventSketches, "cms_part",
      (s, store) => {
        val ev = graft.core.Graft.table(s, sfDir, "events")
          .select(col("user_id"))
        Sketches.cmsEstimate(
          s.read.parquet(s"$store/cms_part").drop("batch")
            .groupBy(col("r"), col("bkt")).agg(sum(col("c")).as("c")),
          ev)
      },
      Sketches.qCmsTopk)
  )

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map((r: Row) => r.mkString("|")).sorted

  families.foreach { f =>
    test(s"crash replay is exactly-once: ${f.name}") {
      val watch = Files.createTempDirectory("graft_replay_watch").toString
      val store = Files.createTempDirectory("graft_replay_store").toString
      val t = graft.core.Graft.table(spark, sfDir, f.table)
      land(t.filter(f.split), watch, "arrival1.parquet")
      f.catchUp(spark, watch, store)
      land(t.filter(!f.split), watch, "arrival2.parquet")
      f.catchUp(spark, watch, store)
      val partialRows = spark.read.parquet(s"$store/${f.partials}").count()
      val oracle = rows(f.batch(spark, sfDir))
      assert(rows(f.view(spark, store)) == oracle,
        "caught-up store must equal the batch face before any crash")

      // crash between the newest batch's writes and its commit marker
      val commits = new java.io.File(s"$store/_checkpoint/commits")
      val newest = commits.listFiles()
        .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
      assert(newest.getName == "1", "two arrivals are batches 0 and 1")
      assert(newest.delete())
      new java.io.File(commits, s".${newest.getName}.crc").delete()
      f.catchUp(spark, watch, store)
      assert(newest.exists(), "the restarted stream must re-run batch 1")

      assert(spark.read.parquet(s"$store/${f.partials}").count() ==
        partialRows, "the replay must overwrite its partition, not append")
      assert(rows(f.view(spark, store)) == oracle,
        "store view after the replay must equal the batch face")
    }
  }
}
