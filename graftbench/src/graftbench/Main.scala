package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Input shapes and sizes, fixed for every seed. README's "Workload
  * parameters" gives the basis of each and what it is sensitive to.
  */
object Sizes {
  // Zipf keys over a bounded universe. With a 6000-event backfill and
  // 500-event rounds each round's delta is ~10% of the base, so the sink
  // compacts on the third append (round 3) for any seed
  val Keys = Gen.KeyShape(users = 5000, objects = 1000, zipfS = 1.1)
  val Backfill = 6000
  val PerRound = 500
  val Rounds = 4 // backfill (the base), append, append, compaction
  // the warm-up cycle takes every path once in three rounds: with
  // 1000-event rounds the sink compacts on the second append
  val WarmPerRound = 1000
  val WarmRounds = 3
  // the bulk rep of traced runs: large enough that task time, not
  // per-job overhead, dominates each core span; warmed up on a tenth
  val Bulk = 200000
  val WarmBulk = 20000
  // the warm-up corpus is smaller: the plans, and so the code the JIT
  // must compile, are the same at a fraction of the cost per rep
  val WarmCorpus = Gen.CorpusShape(docs = 300, exactCopies = 24,
    chains = Seq(8 -> 2, 4 -> 3, 2 -> 5), short = 12, noisy = 12)
  val Corpus = Gen.CorpusShape(docs = 1500, exactCopies = 120,
    chains = Seq(40 -> 2, 20 -> 3, 10 -> 5), short = 60, noisy = 60)
}

/** A stage's timing schedule: warm up on throwaway inputs for at least
  * `minWarm` reps, then until the rep time stops falling (no rep 10%
  * faster than the one before) or the warm-up budget is spent; then time
  * at least `minReps` reps on the measured inputs, and more until the
  * measuring budget is spent.
  */
final class Schedule(warmBudgetNs: Long, measureBudgetNs: Long,
                     minWarm: Int, minReps: Int) {

  def warm(rep: Int => Long): Seq[Long] = {
    val t0 = System.nanoTime()
    var times = Vector.empty[Long]
    def falling = times.length < 2 || times.last < 0.9 * times.init.last
    while (times.length < minWarm ||
        (falling && System.nanoTime() - t0 < warmBudgetNs))
      times :+= rep(times.length)
    times
  }

  def measure[T](rep: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    var out = Vector.empty[T]
    while (out.length < minReps || System.nanoTime() - t0 < measureBudgetNs)
      out :+= rep(out.length)
    out
  }
}

/** GC time and heap peak over the measured reps only. */
final class JvmWindow {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private var gcMs = 0L
  private var peak = 0L

  def apply[T](body: => T): T = {
    heap.foreach(_.resetPeakUsage())
    val g0 = gcs.map(_.getCollectionTime).sum
    val out = body
    gcMs += gcs.map(_.getCollectionTime).sum - g0
    peak = math.max(peak, heap.map(_.getPeakUsage.getUsed).sum)
    out
  }

  def json: Map[String, Any] =
    Map("gc_ms" -> gcMs, "heap_peak_mb" -> peak / 1048576.0)
}

object Main {

  def usage(): Nothing = {
    System.err.println("usage: graftbench.Main --workload <name> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = args.get("workload").filter(workloads.contains)
      .getOrElse(usage())
    val seed = args.get("seed").flatMap(_.toLongOption).getOrElse(usage())
    val seconds = args.get("seconds").flatMap(_.toDoubleOption)
      .getOrElse(usage())
    val trace = args.get("trace").contains("1")
    val work = Paths.get(args.getOrElse("work", usage()))
    val out = Paths.get(args.getOrElse("out", usage()))
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors()
    // the session settings graft.Bench uses
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = run(spark, workload, seed, seconds, trace, work)
      Files.write(out, Json(result).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Input streams: throwaway sets for warm-up, the measured sets. */
  private[graftbench] val WarmStream = 11L
  private[graftbench] val MeasuredStream = 13L
  private val WarmBulkStream = 17L
  private val BulkStream = 19L

  val workloads: Seq[String] = Seq("ingest_serve", "corpus_clean")

  def run(spark: SparkSession, workload: String, seed: Long,
          seconds: Double, trace: Boolean, work: Path): Map[String, Any] = {
    val tracer = new Tracer(spark.sparkContext, trace)
    val checks = new Checks
    val ctx = new Ctx(spark, tracer, checks, work)
    val jvm = new JvmWindow
    val budget = (seconds * 1e9).toLong
    def ms(ns: Long): Double = ns / 1e6
    // seconds since JVM start at the end of each phase: the run's budget
    val phases = ArrayBuffer.empty[(String, Double)]
    def phase(name: String): Unit = phases +=
      name -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    phase("session")

    // set-up: the run's first, cold operation, which pays the one-time
    // costs a user meets before the measured steady state
    val perWorkload: (Seq[Long], Map[String, Any]) = workload match {
      case "ingest_serve" =>
        // the warm-up cycle is cold and, with one measured cycle, fills
        // the run's time budget, so it is the whole warm-up (README,
        // "Workloads")
        val sched = new Schedule(0L, budget, minWarm = 1, minReps = 1)
        val rounds = (st: Long, measured: Boolean) => Gen.roundFiles(seed, st,
          Sizes.Backfill, if (measured) Sizes.PerRound else Sizes.WarmPerRound,
          if (measured) Sizes.Rounds else Sizes.WarmRounds, Sizes.Keys)
        val w = IngestSet(spark, rounds(WarmStream, false), Sizes.Keys.users,
          ctx.dir("inputs", "warm"))
        val m = IngestSet(spark, rounds(MeasuredStream, true),
          Sizes.Keys.users, ctx.dir("inputs", "measured"))
        phase("inputs")
        val ingest = new Ingest(ctx)
        var coldNs = 0L
        val warm = sched.warm { i =>
          val c = ingest.cycle(w, s"warm$i", check = false)
          if (i == 0) coldNs = c.backfillNs
          c.wallNs
        }
        phase("warm")
        val cycles = jvm(sched.measure(i =>
          ingest.cycle(m, s"c$i", check = true)))
        phase("measured")
        // traced runs also time the bulk form of the same core, one call
        // per layer, after one warm-up rep on a smaller set
        val bulk = if (!trace) Map.empty[String, Any] else {
          val events = (st: Long, n: Int) =>
            Gen.events(seed, st, 0L, n, Sizes.Keys)
          val batch = new Batch(ctx)
          batch.rep(BatchSet(spark, events(WarmBulkStream, Sizes.WarmBulk),
            ctx.dir("inputs", "warm-bulk")), "warm-bulk", check = false)
          val set = BatchSet(spark, events(BulkStream, Sizes.Bulk),
            ctx.dir("inputs", "bulk"))
          val (extracted, transformed) = batch.rep(set, "bulk", check = true)
          phase("bulk")
          Map("bulk" -> Map("events" -> set.events,
            "extracted" -> extracted, "transformed" -> transformed))
        }
        // set-up: the first, cold backfill publish, which builds a base
        // and pays every one-time cost of the publish path
        (Seq(coldNs), bulk ++ Map(
          "events" -> m.events,
          "warmup_ms" -> warm.map(ms),
          "compact_rounds" -> m.compacts.zipWithIndex.collect {
            case (true, i) => i },
          "cycles" -> cycles.map(c => Map(
            "wall_ms" -> ms(c.wallNs),
            "publish_ms" -> c.rounds.map(r => ms(r.publishNs)),
            "point_ms" -> c.rounds.map(_.pointNs.map(ms)),
            "compacted" -> c.rounds.map(_.compacted),
            "pending_at_read" -> c.rounds.map(_.pending),
            "bytes_written" -> c.rounds.map(_.bytesWritten),
            "bytes_live" -> c.bytesLive))))
      case "corpus_clean" =>
        // clean reps keep falling for three to six reps, longer than the
        // run's budget allows; the first measured rep is still the slowest,
        // and the median of three takes the middle one
        val sched = new Schedule(budget * 3, budget, minWarm = 3,
          minReps = 3)
        val w = CleanSet(spark, Sizes.WarmCorpus, seed, WarmStream,
          ctx.dir("inputs", "warm"))
        val m = CleanSet(spark, Sizes.Corpus, seed, MeasuredStream,
          ctx.dir("inputs", "measured"))
        phase("inputs")
        val clean = new Clean(ctx)
        val warm = sched.warm(i =>
          clean.rep(w, s"warm$i", check = false).wallNs)
        phase("warm")
        val reps = jvm(sched.measure(i => clean.rep(m, s"k$i", check = true)))
        phase("measured")
        // set-up: the first, cold rep, which pays every one-time cost
        (warm.take(1), Map(
          "docs" -> m.docs,
          "warmup_ms" -> warm.map(ms),
          "clean_ms" -> reps.map(r => ms(r.cleanNs)),
          "clusters_ms" -> reps.map(r => ms(r.clustersNs)),
          "kept" -> reps.map(_.kept),
          "candidates" -> reps.map(_.candidates),
          "verified" -> reps.map(_.verified),
          "planted_found" -> reps.map(_.plantedFound),
          "planted" -> m.planted.size))
    }
    val (setupNs, stage) = perWorkload
    Map(
      "workload" -> workload,
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "failures" -> checks.failures.toSeq,
      "setup_s" -> setupNs.map(_ / 1e9),
      "stage" -> stage,
      "jvm" -> jvm.json,
      "phases_s" -> phases.toMap,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      // spans of warm-up reps are dropped; ids keep parent links valid
      "spans" -> tracer.spans.toSeq.zipWithIndex
        .filterNot { case (s, _) => s.op.startsWith("warm") }
        .map { case (s, id) =>
          Map("id" -> id, "name" -> s.name, "op" -> s.op,
            "parent" -> s.parent, "start_ns" -> s.startNs,
            "end_ns" -> s.endNs, "counts" -> s.counts.toSeq)
        })
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" +
      apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}

/** Digests of the inputs one seed generates, and the compaction rounds
  * of the measured and the warm-up cycle, without Spark: the determinism
  * test compares two invocations.
  *
  *   graftbench.InputDigest <seed>
  */
object InputDigest {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val rounds = (stream: Long, perRound: Int, n: Int) => Gen.roundFiles(
      seed, stream, Sizes.Backfill, perRound, n, Sizes.Keys)
    val measured = rounds(Main.MeasuredStream, Sizes.PerRound, Sizes.Rounds)
    val warm = rounds(Main.WarmStream, Sizes.WarmPerRound, Sizes.WarmRounds)
    val compactRounds = (rs: Seq[Array[Gen.Event]]) =>
      Model.schedule(rs, Ingest.CompactFrac)._2.zipWithIndex.collect {
        case (true, i) => i }
    val events = (evs: Array[Gen.Event]) => Model.digest(evs.iterator.map(e =>
      s"${e.id}|${e.tsNs}|${e.user}|${e.kind}|${e.props}"))
    val (docs, roles) = Gen.corpus(seed, Main.MeasuredStream, Sizes.Corpus)
    println(Json(Map(
      "rounds" -> measured.map(events),
      "compact_rounds" -> compactRounds(measured),
      "warm_compact_rounds" -> compactRounds(warm),
      "docs" -> Model.digest(docs.iterator.map(d =>
        s"${d.id}|${d.lang}|${d.text}|${roles(d.id)}")))))
  }
}
