package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.api.SinkCountSummaryView
import graft.core.{Caches, CountQueries, Graft, Pipeline, Transform}
import graft.pipeline.{CorpusClean, Dedup, SignatureStore, TextAnalysis}
import graft.sinks.{BucketedSnapshotCacheSink, DeltaCacheSink}
import graft.streaming.StreamSum
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Outcome counts: one attempt per timed operation whose output is
  * checked against [[Model]]; the check itself runs outside the span.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def apply(what: => String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }
}

/** Shared by the stages: session, tracer, checks, scratch directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val checks: Checks, val work: Path) {

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dir(parts: String*): Path = {
    val p = Paths.get(work.toString, parts: _*)
    Files.createDirectories(p)
    p
  }
}

object Fs {
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  def bytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally s.close()
  }

  /** The single data file Spark wrote into a one-partition output. */
  def partFile(dir: Path): Path = {
    val s = Files.list(dir)
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet in $dir"))
    finally s.close()
  }
}

object Inputs {
  import org.apache.spark.sql.types._

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false), // epoch-ns
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  def writeEvents(spark: SparkSession, evs: Array[Gen.Event],
                  dir: Path): Unit =
    spark.createDataFrame(evs.toSeq.map(e =>
        Row(e.id, e.tsNs, e.user, e.kind, 1.0, e.props)).asJava, eventSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)

  def writeDocs(spark: SparkSession, docs: Array[Gen.Doc], dir: Path): Unit =
    spark.createDataFrame(docs.toSeq.map(d =>
        Row(d.id, d.text, d.lang, "bench", d.text.length.toLong)).asJava,
        docSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
}

// ---- ingest + serve --------------------------------------------------

/** Delegating sink that times each merge as the publish's child span. */
final class TimedSink(inner: DeltaCacheSink, tracer: Tracer)
    extends DeltaCacheSink {
  override def mergeDelta(name: String, delta: DataFrame,
                          keys: Seq[String]): Unit =
    tracer.span("sinks.merge")(inner.mergeDelta(name, delta, keys))
  override def put(name: String, state: DataFrame): Unit =
    inner.put(name, state)
  override def get(spark: SparkSession, name: String): DataFrame =
    inner.get(spark, name)
  override def reset(spark: SparkSession, name: String): Unit =
    inner.reset(spark, name)
}

/** One cycle's inputs: round files on disk plus the model's answers. */
final class IngestSet(val files: Seq[Path], val events: Seq[Int],
                      val states: Seq[Model.Counts],
                      val compacts: Seq[Boolean],
                      val points: Seq[Model.Key], val multi: Seq[Model.Key],
                      val sliceSubj: Long)

object IngestSet {
  val Actions: Seq[String] = Seq("buy", "err")

  /** Writes the round files, then asks the model. */
  def apply(spark: SparkSession, rounds: Seq[Array[Gen.Event]],
            users: Int, dir: Path): IngestSet = {
    val files = rounds.zipWithIndex.map { case (evs, i) =>
      val d = dir.resolve(s"r$i")
      Inputs.writeEvents(spark, evs, d)
      Fs.partFile(d)
    }
    val (states, compacts) = Model.schedule(rounds, Ingest.CompactFrac)
    val fin = states.last.toSeq.sortBy { case (k, (c, _)) =>
      (-c, k.s, k.a, k.o) }
    // hot: the most counted keys; cold: counted once, so absent until
    // the round that lands them; absent: users outside the universe
    val hot = fin.take(3).map(_._1)
    val cold = fin.filter(_._2._1 == 1L).map(_._1).sortBy(k =>
      (k.s, k.a, k.o)).take(3)
    val absent = (1 to 3).map(i => Model.Key(users + i.toLong, "buy", 1L))
    val subj = fin.groupBy(_._1.s).toSeq
      .map { case (s, rs) => (s, rs.map(_._2._1).sum) }
      .maxBy { case (s, n) => (n, -s) }._1
    new IngestSet(files, rounds.map(_.length), states, compacts,
      Seq(hot.head, cold.head, absent.head), hot ++ cold ++ absent, subj)
  }
}

final case class RoundStats(publishNs: Long, pointNs: Seq[Long],
                            compacted: Boolean, pending: Int,
                            bytesWritten: Long)

/** One cycle: the backfill publish that creates the base, then the
  * delta rounds, each followed by its reads.
  */
final case class CycleStats(backfillNs: Long, rounds: Seq[RoundStats],
                            bytesLive: Long, wallNs: Long)

object Ingest {
  val CompactFrac = 0.25 // the sink's default, restated for the model
  val Name = "counts"
  val Cols = Seq("cache", "s", "a", "o", "cnt", "last_t")
}

final class Ingest(ctx: Ctx) {
  import ctx._
  import Ingest._

  private def versionDir(root: Path, v: Long) = root.resolve(Name)
    .resolve(s"v=$v")

  /** Pending delta versions and whether `v` rewrote base buckets. */
  private def layout(root: Path, v: Long): (Int, Boolean) = {
    val lines = Files.readAllLines(versionDir(root, v).resolve("_STATE"))
      .asScala
    (lines.count(_.startsWith("D ")),
      v > 1 && Files.exists(versionDir(root, v).resolve("base")))
  }

  private def line(r: Row): String =
    Cols.map(c => r.get(r.fieldIndex(c))).mkString("|")

  /** One closed-loop cycle on a fresh sink: land the backfill file and
    * publish it as the base (the cycle's set-up), then per delta round
    * land a file, publish it, read the new version.
    */
  def cycle(set: IngestSet, tag: String, check: Boolean): CycleStats = {
    val t0 = System.nanoTime()
    val root = dir("ingest", tag)
    val land = dir("ingest", tag, "land")
    val sinkRoot = dir("ingest", tag, "sink")
    val cp = root.resolve("checkpoint").toString
    val sink = new BucketedSnapshotCacheSink(sinkRoot.toString,
      StreamSum.countSinkKeys)
    val writer: DeltaCacheSink =
      if (tracer.on) new TimedSink(sink, tracer) else sink
    val keyRow = (k: Model.Key) => Seq(Model.CountCache, k.s, k.a, k.o)
    val publish = (w: DeltaCacheSink) =>
      StreamSum.streamCountsToSinkUpdate(spark, land.toString, w, Name,
        Some(cp), "*.parquet")
    tracer.op = s"$tag/base"
    // the first publish is the base: `put` through the plain sink, so
    // `sinks.merge` and `streaming.publish` time the delta rounds only
    val (_, backfillNs) = tracer.span("ingest.backfill") {
      Files.copy(set.files(0), land.resolve("r0.parquet"))
      publish(sink)
    }
    val stats = (1 until set.files.length).map { i =>
      tracer.op = s"$tag/r$i"
      var pubNs = 0L
      var points = Vector.empty[((Long, Long, Option[Long]), Long)]
      var multi = Array.empty[Row]
      var slice = Seq.empty[(Long, Long, Long)]
      tracer.span("ingest.round") {
        Files.copy(set.files(i), land.resolve(s"r$i.parquet"))
        pubNs = tracer.span("streaming.publish")(publish(writer))._2
        tracer.span("api.read") {
          val (view, _) = tracer.span("api.view") {
            new SinkCountSummaryView(spark, sink, Name, Model.CountCache)
          }
          points = set.points.map { k =>
            tracer.traced("sinks.get_key_plan")(sink.getKey(spark, Name,
              keyRow(k)))
            tracer.span("api.get_count")(view.getCount(k.s, k.a, k.o))
          }.toVector
          multi = tracer.span("api.multiget") {
            sink.getKeys(spark, Name, set.multi.map(keyRow)).collect()
          }._1
          slice = tracer.span("api.slice") {
            view.countsForSubjAction(set.sliceSubj, IngestSet.Actions: _*)
          }._1
        }
      }
      val st = set.states(i)
      val v = sink.currentVersion(spark, Name).getOrElse(0L)
      val (pending, compacted) = layout(sinkRoot, v)
      if (check) {
        set.points.zip(points).foreach { case (k, (got, _)) =>
          checks(s"getCount $k at round $i: $got",
            got == Model.getCount(st, k))
        }
        checks(s"multiget at round $i", multi.map(line).toSet ==
          set.multi.flatMap(k => st.get(k).map(Model.countRow(k, _))).toSet)
        checks(s"slice at round $i",
          slice == Model.slice(st, set.sliceSubj, IngestSet.Actions.toSet))
        checks(s"round $i compaction=$compacted",
          compacted == set.compacts(i))
      }
      RoundStats(pubNs, points.map(_._2), compacted, pending,
        Fs.bytes(versionDir(sinkRoot, v)))
    }
    val wallNs = System.nanoTime() - t0
    if (check) checks(s"$tag final count state digest",
      Model.digest(sink.get(spark, Name).collect().iterator.map(line)) ==
        Model.countsDigest(set.states.last))
    val live = Fs.bytes(sinkRoot)
    Fs.delete(root)
    CycleStats(backfillNs, stats, live, wallNs)
  }
}

// ---- batch summarize -------------------------------------------------

/** The event file of one set; the model's digests are computed on first
  * use, so warm-up sets never pay for them.
  */
final class BatchSet(val dir: Path, evs: Array[Gen.Event]) {
  val events: Int = evs.length
  lazy val pipelineDigest: String =
    Model.digest(Model.pipelineRows(evs).iterator)
  lazy val queryDigests: Map[String, String] = {
    val st = Model.countDelta(evs)
    Map(
      "sorted_variants" -> Model.digest(Model.sortedVariantRows(st).iterator),
      "topk" -> Model.digest(Model.topKRows(st, 3).iterator),
      "subj_action" -> Model.digest(
        Model.subjActionRows(st, IngestSet.Actions.toSet).iterator))
  }
}

object BatchSet {
  def apply(spark: SparkSession, evs: Array[Gen.Event],
            dir: Path): BatchSet = {
    Inputs.writeEvents(spark, evs, dir.resolve("events.parquet"))
    new BatchSet(dir, evs)
  }
}

/** The bulk rep: a traced run's layer-by-layer pass over one event file.
  * It runs only when tracing, so every call is its own span.
  */
final class Batch(ctx: Ctx) {
  import ctx._

  private def rowDigest(df: DataFrame): String =
    Model.digest(df.collect().iterator.map(r =>
      r.toSeq.map(x => if (x == null) "null" else x.toString).mkString("|")))

  /** One rep; returns (rows extract kept, tuples transform emitted). */
  def rep(set: BatchSet, tag: String, check: Boolean): (Long, Long) = {
    tracer.op = tag
    val d = dir("batch", tag)
    Fs.copyTree(set.dir, d) // a fresh path: no path-keyed memo serves it
    val path = d.toString
    var extracted, transformed = 0L
    val state = () => Caches.countState(Transform.transformed(spark, path))
      .drop("cache")
    // built inside the span: sortedVariantsFrom runs a sizing job eagerly
    val queries = Seq[(String, () => DataFrame)](
      "sorted_variants" -> (() => CountQueries.sortedVariantsFrom(state())),
      "topk" -> (() => CountQueries.topKPerSubjFrom(state(), 3)),
      "subj_action" -> (() => CountQueries.countsForSubjActionFrom(state(),
        IngestSet.Actions)))
    tracer.span("batch.rep") {
      tracer.span("core.extract") {
        val obs = org.apache.spark.sql.Observation()
        noop(Transform.extractFrom(Graft.tableParallel(spark, path,
          "events")).observe(obs, count(lit(1)).as("n")))
        extracted = obs.get("n").asInstanceOf[Long]
      }
      tracer.span("core.transform") {
        transformed = Transform.transformed(spark, path).count()
      }
      // the cache kinds over the persisted transform, then the whole
      // pipeline, which reuses it
      val xf = Transform.transformed(spark, path)
      tracer.span("core.count_state")(noop(Caches.countState(xf)))
      tracer.span("core.lastn_state")(noop(Caches.lastnState(xf)))
      tracer.span("core.assoc_state")(noop(Caches.assocState(xf)))
      tracer.span("core.summarize") {
        noop(Pipeline.fromConfig(spark, path, Pipeline.defaultConfigText))
      }
      tracer.span("core.queries") {
        queries.foreach { case (_, q) => noop(q()) }
      }
    }
    if (check) {
      checks(s"$tag pipeline state digest", rowDigest(
        Pipeline.fromConfig(spark, path, Pipeline.defaultConfigText)) ==
        set.pipelineDigest)
      queries.foreach { case (n, q) =>
        checks(s"$tag $n digest", rowDigest(q()) == set.queryDigests(n))
      }
    }
    CountQueries.releaseAll(spark)
    Transform.release(spark, path)
    Fs.delete(d)
    (extracted, transformed)
  }
}

// ---- corpus clean ----------------------------------------------------

final class CleanSet(val dir: Path, docsIn: Array[Gen.Doc],
                     roles: Map[Long, Gen.Role]) {
  val docs: Int = docsIn.length
  lazy val model: Model.Clean = Model.clean(docsIn, roles)
  lazy val planted: Set[(Long, Long)] = Model.plantedPairs(roles)
}

object CleanSet {
  def apply(spark: SparkSession, shape: Gen.CorpusShape, seed: Long,
            stream: Long, dir: Path): CleanSet = {
    val (docs, roles) = Gen.corpus(seed, stream, shape)
    Inputs.writeDocs(spark, docs, dir.resolve("documents.parquet"))
    new CleanSet(dir, docs, roles)
  }
}

final case class CleanStats(wallNs: Long, cleanNs: Long, clustersNs: Long,
                            kept: Long, candidates: Long, verified: Long,
                            plantedFound: Long)

final class Clean(ctx: Ctx) {
  import ctx._

  /** One rep; `check` compares its outputs with the model afterwards. */
  def rep(set: CleanSet, tag: String, check: Boolean): CleanStats = {
    tracer.op = tag
    val d = dir("clean", tag)
    Fs.copyTree(set.dir, d) // a fresh path: no path-keyed memo serves it
    val path = d.toString
    var candidates, verified, found, cleanNs, clNs = 0L
    var kept = Array.empty[Row]
    var clusters = Array.empty[Row]
    val (_, wallNs) = tracer.span("clean.rep") {
      if (tracer.on) {
        // the layers one call at a time; the clean then reuses the
        // session-shared candidate and verified tiers
        tracer.span("pipeline.text_stats")(noop(TextAnalysis.stats(spark,
          path)))
        tracer.span("pipeline.exact_dedup")(noop(Dedup.exact(spark, path)))
        tracer.span("pipeline.lsh_candidates") {
          candidates = Dedup.minhashLsh(spark, path).count()
        }
        tracer.span("pipeline.verify") {
          val pairs = Dedup.ngramJaccard(spark, path)
            .select(col("doc_a"), col("doc_b")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          verified = pairs.size.toLong
          if (check) found = set.planted.count(pairs).toLong
        }
      }
      val c = tracer.span("pipeline.clean")(CorpusClean(spark, path).collect())
      kept = c._1
      cleanNs = c._2
      // after the clean: times only the fixpoint over the verified tier
      val k = tracer.span("pipeline.clusters") {
        Dedup.dupClusters(spark, path).collect()
      }
      clusters = k._1
      clNs = k._2
    }
    val keptIds = kept.map(_.getAs[Long]("doc_id"))
    if (check) {
      val m = set.model
      checks(s"$tag kept docs pass exact-dup and quality decisions",
        kept.forall { r =>
          m.keep.get(r.getAs[Long]("doc_id")).contains(
            (r.getAs[Long]("n_tokens"), r.getAs[Double]("quality")))
        })
      checks(s"$tag near-dup drops are planted copies",
        m.keep.keySet.diff(keptIds.toSet).subsetOf(m.nearCopies))
      checks(s"$tag clusters join only planted families",
        clusters.forall { r =>
          val id = r.getAs[Long]("doc_id")
          val c = r.getAs[Long]("cluster_id")
          c <= id && m.family(id) == m.family(c)
        })
    }
    SignatureStore.release(spark, path)
    Fs.delete(d)
    CleanStats(wallNs, cleanNs, clNs, keptIds.length.toLong, candidates,
      verified, found)
  }
}
