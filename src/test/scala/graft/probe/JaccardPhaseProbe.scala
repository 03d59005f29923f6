package graft.probe

import org.apache.spark.sql.SparkSession

/** Phase profile of `dd_jaccard_prefix` at the generated sf3 anchor
  * (the ann_ivf_pq discipline from round 9, applied to the one corpus
  * query the anchor flags superlinear): time shingle build / prefix
  * relation / candidate join / verify join SEPARATELY, with the
  * signature store warm before the measured phases - the same state
  * the full sweep runs the query in (dd_minhash_lsh precedes it and
  * builds the store), which is exactly the context the r9 subset
  * measure got wrong.
  *
  *   sbt "Test/runMain graft.probe.JaccardPhaseProbe [nDocs]"
  */
object JaccardPhaseProbe {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(50000L)
    // 2nd arg "heaps": swap the 31-word-vocab generator corpus for the
    // ~5800-distinct-token synthetic one (CorpusScaleSmoke) - the
    // candidate-volume slope comparison that separates "exact prefix
    // joins are quadratic on fixed-vocab corpora" (inherent) from "the
    // operator is superlinear on natural text" (it must not be)
    val heaps = args.length > 1 && args(1) == "heaps"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Graft.ensureConf(spark)

    // land the generated corpus exactly as the bench sf3 anchor does:
    // one documents.parquet file in a temp dir
    val dir = java.nio.file.Files
      .createTempDirectory("graft_jacc_probe").toString
    val tmp = s"$dir/_gen"
    val docs =
      if (heaps) CorpusScaleSmoke.syntheticDocs(spark, nDocs)
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("syn"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text"))
            .cast("long"))
      else spark.read.format("graft-docs").option("rows", nDocs.toString)
        .load()
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "documents.parquet"))

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[jacc-probe] $label%-28s $s%8.2fs")
      s
    }

    graft.core.Memo.releaseAll(spark)
    // phase 0: shingle build (cold store). In the sweep this cost is
    // paid by dd_minhash_lsh; afterwards the store is warm.
    time("shingles (store build)") {
      noop(graft.pipeline.SignatureStore.shingles(spark, dir))
    }
    val sh = graft.pipeline.SignatureStore.shingles(spark, dir)
    // phase 1: df agg + rank window + prefix projection
    time("prefix relation") {
      noop(graft.pipeline.Dedup.prefixRelationFor(sh))
    }
    // phase 2: prefix self-join + pair aggregation (candidates)
    time("candidate join") {
      noop(graft.pipeline.Dedup.jaccardPrefixCandidates(sh, positional = true))
    }
    // phase 3: the full query = candidates + verify join
    time("full (cand + verify)") {
      noop(graft.pipeline.Dedup.jaccardPrefixFrom(sh))
    }
    // candidate and true-pair volume for the record
    val nCand = graft.pipeline.Dedup
      .jaccardPrefixCandidates(sh, positional = true).count()
    val nTrue = graft.pipeline.Dedup.jaccardPrefixFrom(sh).count()
    println(s"[jacc-probe] candidates: $nCand true: $nTrue " +
      s"over $nDocs docs (heaps=$heaps)")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.stop()
  }
}
