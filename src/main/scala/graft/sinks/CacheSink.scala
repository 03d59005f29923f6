package graft.sinks

import graft.core.Memo
import org.apache.spark.sql.{Column, DataFrame, Encoder, GraftBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, Literal}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{DataType, StructType}

/** Pluggable cache-state store ≙ the reference's `CacheServer` protocol
  * (/root/reference/src-clj/streamsum/protocols.clj: `getMap(name)`
  * returning a mutable map the app reads summaries from).
  *
  * In a distributed engine the "mutable map per cache" becomes "a named
  * relation per cache": `put` publishes a cache's state under its name,
  * `get` returns it as a DataFrame. Implementations decide durability -
  * in-memory temp views for tests/in-process serving (≙ the reference's
  * default HashMap server), parquet directories for durable/
  * cluster-shared state. Streaming pipelines plug the same interface
  * into foreachBatch.
  */
trait CacheSink {
  def put(cacheName: String, state: DataFrame): Unit
  def get(spark: SparkSession, cacheName: String): DataFrame

  /** ≙ caches.clj `reset-caches!`: drop a cache's published state. */
  def reset(spark: SparkSession, cacheName: String): Unit
}

/** A sink that can fold a micro-batch DELTA into the published snapshot
  * by key replacement: every row of `delta` replaces ALL previous rows
  * sharing its key (one row per changed key for the count cache, the
  * full refreshed ring for the last-N cache). This is the reference's
  * in-place `CacheServer.getMap().put(k, v)` update
  * (src-java/streamsum/TupleCache.java:20) restated for a snapshot
  * store: the published relation after the merge equals
  * `prev MINUS keys(delta) UNION delta`.
  */
trait DeltaCacheSink extends CacheSink {
  def mergeDelta(cacheName: String, delta: DataFrame,
                 keys: Seq[String]): Unit
}

/** ≙ default-cache-server (caches.clj:215): session-scoped, in-memory. */
final class MemoryCacheSink extends CacheSink {
  override def put(cacheName: String, state: DataFrame): Unit =
    state.createOrReplaceTempView(s"graft_cache_$cacheName")
  override def get(spark: SparkSession, cacheName: String): DataFrame =
    spark.table(s"graft_cache_$cacheName")
  override def reset(spark: SparkSession, cacheName: String): Unit =
    spark.catalog.dropTempView(s"graft_cache_$cacheName")
}

/** Durable store: one parquet directory per cache under `root`. */
final class ParquetCacheSink(root: String) extends CacheSink {
  override def put(cacheName: String, state: DataFrame): Unit =
    state.write.mode(SaveMode.Overwrite).parquet(s"$root/$cacheName")
  override def get(spark: SparkSession, cacheName: String): DataFrame =
    spark.read.parquet(s"$root/$cacheName")
  override def reset(spark: SparkSession, cacheName: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$root/$cacheName")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }
}

/** The one-line `_LATEST` manifest both snapshot sinks commit through:
  * write-temp + atomic rename-overwrite, reads from a single open
  * handle. Extracted so the bucketed sink shares the exact machinery
  * the race spec pins.
  */
private[sinks] object Manifest {
  import org.apache.hadoop.fs.Path

  def fsFor(spark: SparkSession, p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Manifest reads must bypass client-side checksum sidecars: on a
    * ChecksumFileSystem (local FS) the `.crc` travels in a SECOND
    * rename behind the data file's, so a checksummed reader racing the
    * flip can pair new manifest bytes with the old sidecar and throw.
    * HDFS/object stores don't keep sidecar files — no-op there.
    */
  def rawFs(fs: org.apache.hadoop.fs.FileSystem): org.apache.hadoop.fs.FileSystem =
    fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** Latest committed version, or None before the first publish. */
  def readVersion(spark: SparkSession, m: Path): Option[Long] = {
    val fs = rawFs(fsFor(spark, m))
    if (!fs.exists(m)) None
    else {
      // read to EOF from one open handle (not a pre-fetched length):
      // a rename-overwrite between stat and read must not truncate
      val in = fs.open(m)
      val out = new java.io.ByteArrayOutputStream()
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      finally in.close()
      Some(out.toString("UTF-8").trim.toLong)
    }
  }

  /** Commit point: write-temp + atomic rename-overwrite. The tmp write
    * goes through the RAW fs so no checksum sidecar is ever created -
    * the manifest is a single immutable line per version,
    * self-validating by parse.
    */
  def flip(spark: SparkSession, m: Path, next: Long): Unit = {
    val fs = rawFs(fsFor(spark, m))
    val tmp = new Path(m.getParent, s".${m.getName}.$next.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    val scheme = m.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // LocalFs FileContext rename-overwrite is delete-then-rename - a
      // window where the manifest doesn't exist at all. The platform
      // primitive is the real atomic overwrite on a local filesystem.
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(fs.makeQualified(m).toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      // HDFS/object-store AbstractFileSystems implement overwrite
      // rename atomically server-side
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        m.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, m, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }
}

/** Versioned atomic-publish store: the production half of foreachBatch
  * exactly-once that `ParquetCacheSink`'s in-place overwrite lacks. A
  * `put` writes the new snapshot to its OWN `v=<n>` directory -
  * invisible to readers - then flips a one-line `_LATEST` manifest via
  * an atomic rename (see [[Manifest]]), so a reader racing a publish
  * always sees a complete snapshot (old or new, never a half-written
  * directory), and a crash between the data write and the manifest
  * flip leaves the previous version intact: a restarted batch simply
  * rewrites the orphan `v=<n>` and flips again (idempotent, the same
  * replay contract as the incremental stores). The last `keepVersions`
  * snapshots are retained so in-flight readers of the previous version
  * don't lose their files at the instant of a flip.
  *
  * `mergeDelta` here is the simple full-rewrite fold (read previous
  * snapshot, anti-join, rewrite everything) - O(total state) per call.
  * Use [[BucketedSnapshotCacheSink]] when the per-trigger cost must be
  * O(delta), which is every high-frequency deployment.
  */
final class SnapshotCacheSink(root: String, keepVersions: Int = 2)
    extends DeltaCacheSink {
  import org.apache.hadoop.fs.Path

  private def manifest(name: String) = new Path(s"$root/$name/_LATEST")

  /** Latest committed version, or None before the first publish. */
  def currentVersion(spark: SparkSession, name: String): Option[Long] =
    Manifest.readVersion(spark, manifest(name))

  override def put(name: String, state: DataFrame): Unit = {
    val spark = state.sparkSession
    val next = currentVersion(spark, name).getOrElse(0L) + 1
    // data first, into a version-private dir (Overwrite: a replay of a
    // torn publish rewrites the orphan instead of appending to it)
    state.write.mode(SaveMode.Overwrite).parquet(s"$root/$name/v=$next")
    Manifest.flip(spark, manifest(name), next)
    // retain a window of old snapshots for in-flight readers
    val fs = Manifest.rawFs(Manifest.fsFor(spark, manifest(name)))
    val dir = new Path(s"$root/$name")
    fs.listStatus(dir).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("v=") &&
          nm.stripPrefix("v=").toLong <= next - keepVersions)
        fs.delete(st.getPath, true)
    }
  }

  override def mergeDelta(name: String, delta: DataFrame,
                          keys: Seq[String]): Unit = {
    val spark = delta.sparkSession
    val merged = currentVersion(spark, name) match {
      case Some(_) =>
        get(spark, name)
          .join(delta.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(delta)
      case None => delta
    }
    put(name, merged)
  }

  override def get(spark: SparkSession, name: String): DataFrame = {
    val v = currentVersion(spark, name).getOrElse(
      throw new IllegalStateException(
        s"SnapshotCacheSink: '$name' has never been published under $root"))
    spark.read.parquet(s"$root/$name/v=$v")
  }

  override def reset(spark: SparkSession, name: String): Unit = {
    val p = new Path(s"$root/$name")
    val fs = Manifest.fsFor(spark, p)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

/** Rows per bucket of `numBuckets`: the histogram a base write observes
  * on itself. The buffer is one count per bucket, updated in place.
  */
private final class BucketRows(numBuckets: Int)
    extends Aggregator[Int, Array[Long], Array[Long]] {
  override def zero: Array[Long] = new Array[Long](numBuckets)
  override def reduce(n: Array[Long], b: Int): Array[Long] = {
    n(b) += 1; n
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numBuckets) { a(i) += b(i); i += 1 }
    a
  }
  override def finish(n: Array[Long]): Array[Long] = n
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
}

/** O(delta)-per-trigger snapshot store: the scale answer to
  * [[SnapshotCacheSink]]'s full-rewrite `mergeDelta`, which at 10⁹
  * cached keys with a 10⁴-key delta pays the whole cache every
  * trigger. Two mechanisms compose (the merge-on-read layout every
  * streaming lakehouse converges on):
  *
  *   - **Delta log.** Each `mergeDelta` appends ONE delta-sized parquet
  *     write (`v=<n>/delta`) and flips the manifest - per-trigger cost
  *     is O(delta), full stop. Readers merge base + pending deltas by
  *     key at read time (later versions win), so the snapshot is
  *     always exact.
  *   - **Bucket-local compaction.** The base is hash-bucketed on the
  *     merge keys (`v=<n>/base/_b=<k>`). When pending delta rows exceed
  *     `compactFrac` of the base, the deltas are folded in - but only
  *     the buckets the deltas actually touch are rewritten; untouched
  *     buckets carry forward BY REFERENCE (the new version's `_STATE`
  *     map points at the old version's files, byte-identical). Read
  *     cost is thereby bounded: at most 1/compactFrac deltas pending.
  *
  * A publish runs its writes and nothing else. Each delta write
  * observes its row count and the buckets the rows of each of its
  * files hash to, recorded in `_STATE`, so a compaction knows what it
  * rewrites without a job, and a point read opens only the delta files
  * that can hold its keys;
  * the compaction unions the touched base buckets with the pending
  * deltas, tagged by version, and exchanges them ONCE on the bucket,
  * which also clusters the keep-the-latest-version-per-key window; and
  * every base write (`put`, a compaction) counts its rows per bucket
  * on the write itself instead of reading them back.
  *
  * Why not bucketed rewrite alone: a d-key delta hashed over B buckets
  * touches ~B·(1-e^(-d/B)) of them - for d ≳ B that is ALL of them,
  * i.e. still O(total state) per trigger. The delta log makes the
  * per-trigger cost genuinely O(delta); bucketing caps what each
  * compaction rewrites.
  *
  * Commit protocol is byte-for-byte the [[Manifest]] one: data and the
  * per-version `_STATE` layout file are written first (invisible),
  * then `_LATEST` flips atomically. A crash mid-publish leaves an
  * orphan `v=<n>` that the replayed batch rewrites - same idempotent
  * replay contract, pinned by the same race spec. Retention keeps
  * every version REFERENCED by the last `keepVersions` states (a
  * carried-forward bucket keeps its home version alive past the
  * window).
  *
  * Sizing at 100 TB: `numBuckets` so one bucket ≈ a few executor
  * partitions (10⁹ keys / 4096 buckets ≈ 250k keys/bucket); compaction
  * then rewrites (touched/B)·state, and a steady 10⁴-key trigger
  * stream compacts every (compactFrac·state)/delta triggers.
  */
final class BucketedSnapshotCacheSink(root: String, keys: Seq[String],
                                      numBuckets: Int = 64,
                                      keepVersions: Int = 2,
                                      compactFrac: Double = 0.25)
    extends DeltaCacheSink {
  import org.apache.hadoop.fs.{FileStatus, Path}
  require(keys.nonEmpty && numBuckets > 0 && compactFrac > 0)

  private val B = "_b"
  private val DV = "__dv"
  private val P = "__p"

  private def manifest(name: String) = new Path(s"$root/$name/_LATEST")
  private def vdir(name: String, v: Long) = s"$root/$name/v=$v"

  def currentVersion(spark: SparkSession, name: String): Option[Long] =
    Manifest.readVersion(spark, manifest(name))

  private def bucketOf = pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** A pending delta: its version, its row count, the buckets its
    * rows hash to, and those of each written partition (the rows of
    * its `part-<p>-…` files), all observed on the delta's own write.
    */
  private case class Delta(v: Long, rows: Long, buckets: Set[Int],
                           parts: Map[Int, Set[Int]]) {
    /** Whether `file` may hold a row of `wanted` buckets: a file whose
      * name carries no observed partition is always read.
      */
    def mayHold(file: FileStatus, wanted: Set[Int]): Boolean =
      partOf(file).flatMap(parts.get).forall(_.exists(wanted))
  }

  private val PartName = "part-(\\d+)-".r

  /** The write partition in a Spark output file's `part-<p>-…` name. */
  private def partOf(file: FileStatus): Option[Int] =
    PartName.findPrefixMatchOf(file.getPath.getName).map(_.group(1).toInt)

  /** Per-version layout: the relation's schema, which version dir holds
    * each bucket's current base file (+ row count), and the pending
    * deltas in apply order. Written to `v=<n>/_STATE` BEFORE the flip,
    * immutable afterwards, one line each:
    *
    *   - `S <StructType json>`: every read passes it to
    *     `spark.read.schema`, so no read runs a schema-inference job;
    *   - `B <bucket> <home version> <rows>`, the rows counted on the
    *     write that homed the bucket;
    *   - `D <delta version> <rows> <bucket>,<bucket>,...`: the buckets
    *     the delta touches, so a compaction knows what it rewrites
    *     without reading the deltas;
    *   - `P <delta version> <partition> <bucket>,<bucket>,...`: the
    *     buckets of the rows the delta's write partition put in its
    *     files, so a point read skips the files that cannot hold its
    *     keys. A delta hash-partitioned on the keys into a partition
    *     count that divides `numBuckets` (a keyed streaming
    *     aggregation's output, say) has each bucket in one partition,
    *     so a point read opens one file of it.
    */
  private case class State(schema: StructType,
                           base: Map[Int, (Long, Long)],
                           deltas: Seq[Delta])

  private def writeState(spark: SparkSession, name: String, v: Long,
                         st: State): Unit = {
    val lines = Seq(s"S ${st.schema.json}") ++
      st.base.toSeq.sorted.map { case (b, (bv, rows)) =>
        s"B $b $bv $rows"
      } ++ st.deltas.flatMap { d =>
        s"D ${d.v} ${d.rows} ${d.buckets.toSeq.sorted.mkString(",")}" +:
          d.parts.toSeq.sortBy(_._1).map { case (p, bs) =>
            s"P ${d.v} $p ${bs.toSeq.sorted.mkString(",")}"
          }
      }
    val p = new Path(s"${vdir(name, v)}/_STATE")
    val fs = Manifest.rawFs(Manifest.fsFor(spark, p))
    val out = fs.create(p, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readState(spark: SparkSession, name: String,
                        v: Long): State = {
    val p = new Path(s"${vdir(name, v)}/_STATE")
    val fs = Manifest.rawFs(Manifest.fsFor(spark, p))
    val in = fs.open(p)
    val out = new java.io.ByteArrayOutputStream()
    try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
    finally in.close()
    val lines = out.toString("UTF-8").split("\n").filter(_.nonEmpty)
    val schema = lines.collectFirst { case l if l.startsWith("S ") =>
      DataType.fromJson(l.drop(2)).asInstanceOf[StructType]
    }.get
    val base = lines.collect { case l if l.startsWith("B ") =>
      val Array(_, b, bv, rows) = l.split(" ")
      b.toInt -> (bv.toLong, rows.toLong)
    }.toMap
    def ints(csv: String) = csv.split(",").map(_.toInt).toSet
    val parts = lines.collect { case l if l.startsWith("P ") =>
      val Array(_, dv, p, buckets) = l.split(" ")
      dv.toLong -> (p.toInt -> ints(buckets))
    }.groupMap(_._1)(_._2)
    val deltas = lines.collect { case l if l.startsWith("D ") =>
      val Array(_, dv, rows, buckets) = l.split(" ")
      Delta(dv.toLong, rows.toLong, ints(buckets),
        parts.getOrElse(dv.toLong, Array.empty).toMap)
    }.toSeq
    State(schema, base, deltas)
  }

  /** The layout of the latest committed version. */
  private def published(spark: SparkSession, name: String): State =
    readState(spark, name, currentVersion(spark, name).getOrElse(
      throw new IllegalStateException(
        s"BucketedSnapshotCacheSink: '$name' has never been published " +
          s"under $root")))

  /** `df` with its bucket in `_b`, exchanged so each bucket is in one
    * task: the one shuffle a base write needs.
    */
  private def bucketed(df: DataFrame): DataFrame =
    df.withColumn(B, bucketOf).repartition(col(B))

  /** Write `bucketed` rows (a `_b` column, each bucket in one task)
    * under `dir`, one file per bucket; returns bucket -> row count,
    * counted by a histogram observed on the write itself, so nothing
    * is read back.
    */
  private def writeBase(bucketed: DataFrame, dir: String): Map[Int, Long] = {
    val obs = org.apache.spark.sql.Observation()
    val histogram = udaf(new BucketRows(numBuckets)).apply(col(B))
    bucketed.observe(obs, histogram.as("rows"))
      .write.partitionBy(B).mode(SaveMode.Overwrite).parquet(dir)
    obs.get("rows").asInstanceOf[scala.collection.Seq[Long]]
      .zipWithIndex.collect { case (n, b) if n > 0 => b -> n }.toMap
  }

  private def qualified(spark: SparkSession, dir: String): Path = {
    val p = new Path(dir)
    Manifest.fsFor(spark, p).makeQualified(p)
  }

  /** Spark's file index skips these names (`_SUCCESS`, checksums). */
  private def hidden(f: FileStatus): Boolean =
    f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith(".")

  /** The data files directly in `dir`, listed on the driver. Plain
    * `listStatus`, as Spark's own listing uses: `listFiles` builds
    * located statuses, which on a local filesystem fork a process per
    * file to read its permissions.
    */
  private def filesIn(spark: SparkSession,
                      dir: Path): Array[FileStatus] =
    Manifest.fsFor(spark, dir).listStatus(dir)
      .filter(f => f.isFile && !hidden(f))

  /** The base files of `buckets` the state homes, by bucket dir. A
    * missing bucket dir fails the listing, so the read fails loud.
    */
  private def baseFiles(spark: SparkSession, name: String, st: State,
                        buckets: Iterable[Int])
      : Seq[(Path, Array[FileStatus])] =
    buckets.toSeq.distinct.flatMap(b => st.base.get(b).map { case (bv, _) =>
      val dir = qualified(spark, baseDir(name, b, bv))
      dir -> filesIn(spark, dir)
    })

  /** The relation over listed files: no listing, no schema inference. */
  private def read(spark: SparkSession, st: State,
                   listed: Seq[(Path, Array[FileStatus])])
      : DataFrame =
    GraftBridge.parquetOfListed(spark, st.schema, listed)

  private def readDelta(spark: SparkSession, st: State, name: String,
                        dv: Long): DataFrame = {
    val dir = qualified(spark, deltaDir(name, dv))
    read(spark, st, Seq(dir -> filesIn(spark, dir)))
  }

  private def baseDir(name: String, b: Int, bv: Long) =
    s"${vdir(name, bv)}/base/$B=$b"

  private def deltaDir(name: String, dv: Long) = s"${vdir(name, dv)}/delta"

  /** Key-replacement merge of whole relations: rows of the LATEST delta
    * version holding a key win over earlier deltas and over the base.
    * The base meets only the distinct delta keys, in an anti-join that
    * broadcasts them while they fit the broadcast threshold, so the
    * base itself is not shuffled.
    */
  private def applyDeltas(base: DataFrame,
                          deltas: Seq[(Long, DataFrame)]): DataFrame = {
    val tagged = deltas.map { case (v, df) => df.withColumn(DV, lit(v)) }
      .reduce(_ unionByName _)
    base.join(tagged.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(latestPerKey(tagged, keys.map(col)))
  }

  /** The rows of each key's highest `__dv` version, tag dropped; the
    * window partitions on `by`, which must hold the keys.
    */
  private def latestPerKey(tagged: DataFrame, by: Seq[Column]): DataFrame =
    tagged
      .withColumn("__mx", max(col(DV))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(by: _*)))
      .where(col(DV) === col("__mx")).drop(DV, "__mx")

  override def put(name: String, state: DataFrame): Unit = {
    val spark = state.sparkSession
    val next = currentVersion(spark, name).getOrElse(0L) + 1
    val rows = writeBase(bucketed(state), s"${vdir(name, next)}/base")
    if (rows.isEmpty) { // empty state: nothing published, no flip
      val p = new Path(vdir(name, next))
      val fs = Manifest.fsFor(spark, p)
      if (fs.exists(p)) fs.delete(p, true)
      return
    }
    writeState(spark, name, next, State(state.schema,
      rows.map { case (b, n) => b -> (next, n) }, Nil))
    Manifest.flip(spark, manifest(name), next)
    retention(spark, name, next)
  }

  /** Same column names and types, in any order and nullability: what a
    * read by the recorded schema depends on (parquet columns resolve by
    * name, and every column reads back nullable).
    */
  private def sameColumns(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.forall(f => b.exists(g => g.name == f.name &&
      DataTypeUtils.equalsIgnoreNullability(f.dataType, g.dataType)))

  override def mergeDelta(name: String, delta: DataFrame,
                          mergeKeys: Seq[String]): Unit = {
    require(mergeKeys == keys,
      s"sink is bucketed on $keys, merge asked for $mergeKeys")
    val spark = delta.sparkSession
    currentVersion(spark, name) match {
      case None => put(name, delta) // first publish IS the base
      case Some(cur) =>
        val st = readState(spark, name, cur)
        // reads trust the recorded schema, so a drifted delta must
        // fail here rather than read back silently wrong
        if (!sameColumns(delta.schema, st.schema))
          throw new IllegalArgumentException(
            s"BucketedSnapshotCacheSink: delta schema " +
              s"${delta.schema.simpleString} of '$name' differs from the " +
              s"published schema ${st.schema.simpleString}")
        val next = cur + 1
        // the O(delta) path: ONE delta-sized write per trigger, its row
        // count and each write partition's buckets observed on the
        // write itself (the partition is the task's, as in the names of
        // the files it writes)
        val obs = org.apache.spark.sql.Observation()
        delta.withColumn(P, spark_partition_id())
          .observe(obs, count(lit(1)).as("rows"),
            collect_set(struct(col(P), bucketOf)).as("parts"))
          .drop(P)
          .write.mode(SaveMode.Overwrite).parquet(deltaDir(name, next))
        val dRows = obs.get("rows").asInstanceOf[Long]
        if (dRows == 0) { // empty batch: no version bump
          val p = new Path(vdir(name, next))
          val fs = Manifest.fsFor(spark, p)
          if (fs.exists(p)) fs.delete(p, true)
          return
        }
        val parts = obs.get("parts").asInstanceOf[scala.collection.Seq[Row]]
          .groupMap(_.getInt(0))(_.getInt(1)).view.mapValues(_.toSet).toMap
        val deltas = st.deltas :+ Delta(next, dRows,
          parts.values.flatten.toSet, parts)
        val pendingRows = deltas.map(_.rows).sum
        val baseRows = st.base.values.map(_._2).sum
        if (pendingRows < math.max(1L, (compactFrac * baseRows).toLong)) {
          // append-only publish: base map unchanged, delta list grows
          writeState(spark, name, next, st.copy(deltas = deltas))
        } else {
          // compaction: fold ALL pending deltas into the buckets they
          // touch; untouched buckets carry forward by reference. The
          // touched base buckets (version 0) and the deltas (their own
          // versions) meet in ONE exchange on the bucket, which already
          // clusters the per-key window, and each key keeps the rows of
          // its highest version
          val touched = deltas.flatMap(_.buckets).toSet
          val homes = baseFiles(spark, name, st, touched)
          val tagged = (if (homes.isEmpty) Nil
              else Seq(0L -> read(spark, st, homes))) ++
            deltas.map(d => d.v -> readDelta(spark, st, name, d.v))
          val merged = latestPerKey(bucketed(tagged
              .map { case (v, df) => df.withColumn(DV, lit(v)) }
              .reduce(_ unionByName _)),
            (B +: keys).map(col))
          val rows = writeBase(merged, s"${vdir(name, next)}/base")
          writeState(spark, name, next, st.copy(
            base = st.base.filterNot { case (b, _) => touched(b) } ++
              rows.map { case (b, n) => b -> (next, n) },
            deltas = Nil))
        }
        Manifest.flip(spark, manifest(name), next)
        retention(spark, name, next)
    }
  }

  override def get(spark: SparkSession, name: String): DataFrame = {
    val st = published(spark, name)
    val base = read(spark, st, baseFiles(spark, name, st, st.base.keys))
    if (st.deltas.isEmpty) base
    else applyDeltas(base, st.deltas.map { d =>
      d.v -> readDelta(spark, st, name, d.v)
    })
  }

  /** The key's bucket, computed DRIVER-SIDE with the identical
    * Catalyst expression the writer bucketed with (`pmod(hash(keys),
    * numBuckets)` - Murmur3, seed 42), so pruning and placement can
    * never disagree. Each value is cast to its column's exact DataType
    * first: `hash` of an Int and a Long differ, so an Int passed for a
    * Long column must hash as the Long it matches in the key predicate.
    * None when a value is null or out of its column's range: such a
    * key matches no row, so it has no bucket to read.
    */
  private def bucketForKey(schema: StructType,
                           keyVals: Seq[Any]): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Murmur3Hash}
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val typed = keys.zip(keyVals).map { case (k, value) =>
      Cast(Literal(value), schema(k).dataType, tz, EvalMode.TRY)
    }
    if (typed.exists(_.eval(null) == null)) None
    else {
      val h = Murmur3Hash(typed, 42).eval(null).asInstanceOf[Int]
      Some(((h % numBuckets) + numBuckets) % numBuckets)
    }
  }

  /** Point lookup ≙ the reference's primary serving op
    * `getMap(name).get(key)` (src-java/streamsum/TupleCache.java:20):
    * the single-key case of `getKeys`. At 10⁹ cached keys over 4096
    * buckets a point read touches ~1/4096 of the state (plus the
    * pending deltas, at most compactFrac·base rows); `get` + filter
    * would list and scan every bucket.
    */
  def getKey(spark: SparkSession, name: String,
             keyVals: Seq[Any]): DataFrame =
    getKeys(spark, name, Seq(keyVals))

  /** Batched point lookup - the serving-path MULTIGET - as a local
    * relation over [[lookup]]'s rows: building it and collecting it
    * run no Spark job, and it stays readable after retention deletes
    * the version it was read from.
    */
  def getKeys(spark: SparkSession, name: String,
              keyRows: Seq[Seq[Any]]): DataFrame = {
    val (schema, rows) = pointRows(spark, name, keyRows)
    GraftBridge.ofRows(spark, org.apache.spark.sql.catalyst.plans.logical
      .LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }

  /** The rows of the requested keys in the latest published version,
    * read on the driver with no Spark job ≙ the reference's in-process
    * `get`. It decodes at most one base file per distinct home bucket
    * (≤ |keys| of numBuckets, computed from the recorded schema) plus
    * the pending delta files whose write partition holds one of those
    * buckets - the bytes one scan task of a pruned read would decode -
    * with Spark's own parquet reader, keeps the rows the key predicate
    * matches, and for each key keeps ALL rows of its highest version
    * (base = 0, each delta its own): whole-key replacement, as the
    * last-N ring needs.
    */
  def lookup(spark: SparkSession, name: String,
             keyRows: Seq[Seq[Any]]): Seq[Row] = {
    val (schema, rows) = pointRows(spark, name, keyRows)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    rows.map(toRow(_).asInstanceOf[Row])
  }

  /** [[lookup]]'s rows in catalyst form, with the schema they read as. */
  private def pointRows(spark: SparkSession, name: String,
                        keyRows: Seq[Seq[Any]]): (StructType, Seq[InternalRow]) = {
    require(keyRows.nonEmpty && keyRows.forall(_.length == keys.length),
      s"sink keys are $keys; every key row must match")
    val st = published(spark, name)
    val schema = GraftBridge.asNullable(st.schema) // as parquet reads it
    // each key row as literals, matched by the key condition analyzed
    // once per (schema, value types)
    val keyMatches = keyRows.map { r =>
      val lits = r.map(Literal(_))
      val types = lits.map(_.dataType)
      Memo(spark, Memo.session, ("sinkKeyMatch", schema, keys, types))(
        GraftBridge.keyMatch(spark, DataTypeUtils.toAttributes(schema),
          keys, types)) -> InternalRow.fromSeq(lits.map(_.value))
    }
    val matches = (row: InternalRow) => keyMatches.exists { case (m, key) =>
      m.eval(new JoinedRow(row, key)) == true
    }
    val keyOf = org.apache.spark.sql.catalyst.expressions
      .InterpretedUnsafeProjection.createProjection(keys.map { k =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          schema.fieldIndex(k), schema(k).dataType, nullable = true)
      })
    val decode = Memo(spark, Memo.session, ("sinkRowReader", schema))(
      GraftBridge.parquetRowReader(spark, schema))
    val buckets = keyRows.flatMap(bucketForKey(st.schema, _)).toSet
    val homes = baseFiles(spark, name, st, buckets)
    val inputs = homes.map(0L -> _._2) ++ st.deltas.map { d =>
      d.v -> filesIn(spark, qualified(spark, deltaDir(name, d.v)))
        .filter(d.mayHold(_, buckets))
    }
    val hits = inputs.flatMap { case (v, files) =>
      files.toSeq.flatMap { file =>
        decode(file).filter(matches)
          .map(row => (v, keyOf(row).copy(), row.copy()))
      }
    }
    val latest = hits.groupMapReduce(_._2)(_._1)(math.max(_, _))
    (schema, hits.collect { case (v, k, row) if latest(k) == v => row })
  }

  /** Delete version dirs neither inside the retention window nor
    * referenced (as a carried-forward bucket's home or a pending
    * delta) by any retained version's state.
    */
  private def retention(spark: SparkSession, name: String,
                        next: Long): Unit = {
    val fs = Manifest.rawFs(Manifest.fsFor(spark, manifest(name)))
    val windowLo = next - keepVersions + 1
    val referenced = (windowLo to next).flatMap { v =>
      if (!fs.exists(new Path(s"${vdir(name, v)}/_STATE"))) Seq.empty
      else {
        val st = readState(spark, name, v)
        st.base.values.toSeq.map(_._1) ++ st.deltas.map(_.v) ++ Seq(v)
      }
    }.toSet
    fs.listStatus(new Path(s"$root/$name")).foreach { s =>
      val nm = s.getPath.getName
      if (nm.startsWith("v=")) {
        val v = nm.stripPrefix("v=").toLong
        if (v < windowLo && !referenced(v)) fs.delete(s.getPath, true)
      }
    }
  }

  override def reset(spark: SparkSession, name: String): Unit = {
    val p = new Path(s"$root/$name")
    val fs = Manifest.fsFor(spark, p)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
