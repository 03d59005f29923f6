package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O(delta) publish contract of [[BucketedSnapshotCacheSink]]: delta
  * appends are delta-sized, compaction rewrites only touched buckets,
  * untouched bucket files carry forward BY REFERENCE (byte-identical),
  * and the read-time merged snapshot always equals the one-shot
  * key-replacement fold.
  */
class BucketedSinkSpec extends SparkSpec {

  private def df(rows: (Long, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("k", "v")
  }

  /** The sink's own bucket function, recomputed for assertions. */
  private def bucketOf(k: Long, n: Int): Int = {
    val s = spark; import s.implicits._
    Seq(k).toDF("k").select(pmod(hash(col("k")), lit(n)))
      .head().getInt(0)
  }

  private def rowSet(d: DataFrame): Set[(Long, String)] =
    d.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** All parquet data files under a cache dir, path -> content hash. */
  private def files(root: String, name: String): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(s"$root/$name")).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      f.getPath -> md.digest(bytes).map("%02x".format(_)).mkString
    }.toMap
  }

  test("bucketed sink: put/get round trip and full replace") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_rt").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"), numBuckets = 8)
    sink.put("c", df(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(sink.currentVersion(spark, "c").contains(1L))
    assert(rowSet(sink.get(spark, "c")) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // put is a FULL replace: absent keys vanish
    sink.put("c", df(1L -> "z"))
    assert(rowSet(sink.get(spark, "c")) == Set(1L -> "z"))
    intercept[IllegalStateException] { sink.get(spark, "nope") }
  }

  test("bucketed sink: delta append is delta-sized and leaves every " +
       "base file byte-identical; merged read equals one-shot fold") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_app").toString
    // compactFrac huge: never compact, always the O(delta) append path
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 8, compactFrac = 1e9)
    sink.mergeDelta("c", df((1L to 40L).map(i => i -> s"v$i"): _*), Seq("k"))
    val baseFiles = files(root, "c")
    // delta replaces key 1, adds key 100
    sink.mergeDelta("c", df(1L -> "NEW", 100L -> "add"), Seq("k"))
    val after = files(root, "c")
    // every original base file still present, byte-identical
    baseFiles.foreach { case (p, h) =>
      assert(after.get(p).contains(h), s"base file changed: $p")
    }
    // the append wrote ONE delta dir, no new base buckets
    val newPaths = (after.keySet -- baseFiles.keySet).toSeq
    assert(newPaths.nonEmpty && newPaths.forall(_.contains("/delta/")),
      s"append must only add delta files, got $newPaths")
    // read-time merge: key replacement, later delta wins
    val got = rowSet(sink.get(spark, "c"))
    assert(got.size == 41 && got(1L -> "NEW") && got(100L -> "add") &&
      !got(1L -> "v1"))
    // a second delta stacking on the first: latest version wins per key
    sink.mergeDelta("c", df(1L -> "NEWER", 2L -> "two"), Seq("k"))
    val got2 = rowSet(sink.get(spark, "c"))
    assert(got2(1L -> "NEWER") && got2(2L -> "two") && !got2(1L -> "NEW"))
  }

  test("bucketed sink: compaction rewrites ONLY touched buckets; " +
       "untouched buckets carry forward by reference across versions") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_cmp").toString
    val nb = 8
    // compactFrac tiny: every merge compacts
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = nb, keepVersions = 2, compactFrac = 1e-9)
    val keys = (1L to 200L)
    sink.put("c", df(keys.map(i => i -> s"v$i"): _*))
    val baseFiles = files(root, "c")
    // single-key delta: touches exactly one bucket
    val touchedBucket = bucketOf(7L, nb)
    sink.mergeDelta("c", df(7L -> "NEW"), Seq("k"))
    val after = files(root, "c")
    // untouched buckets: identical files at their ORIGINAL v=1 paths
    val untouchedBefore = baseFiles.filterNot(_._1
      .contains(s"_b=$touchedBucket"))
    untouchedBefore.foreach { case (p, h) =>
      assert(after.get(p).contains(h),
        s"untouched bucket file rewritten or moved: $p")
    }
    // the touched bucket was rewritten under v=2
    assert(after.keys.exists(p =>
      p.contains("/v=2/") && p.contains(s"_b=$touchedBucket")))
    // correctness of the fold
    val got = rowSet(sink.get(spark, "c"))
    assert(got.size == 200 && got(7L -> "NEW") && !got(7L -> "v7"))
    // retention keeps v=1 alive while v=2 references its buckets, even
    // after more publishes age v=1 past the keepVersions window
    sink.mergeDelta("c", df(7L -> "NEWER"), Seq("k"))
    sink.mergeDelta("c", df(7L -> "NEWEST"), Seq("k"))
    val dirs = new java.io.File(s"$root/c").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(dirs.contains("v=1"),
      s"carried-forward buckets' home version must survive: $dirs")
    untouchedBefore.foreach { case (p, h) =>
      assert(files(root, "c").get(p).contains(h)) }
    assert(rowSet(sink.get(spark, "c"))(7L -> "NEWEST"))
  }

  /** Deletes every base `_b=` dir of every version except the dirs of
    * buckets in `keep`: a point read that decodes only its keys' home
    * buckets still answers, while any read of another bucket fails.
    */
  private def dropBucketsExcept(root: String, name: String,
                                keep: Set[Int]): Unit =
    for {
      v <- new java.io.File(s"$root/$name").listFiles()
      if v.getName.startsWith("v=")
      base = new java.io.File(v, "base") if base.isDirectory
      b <- base.listFiles() if b.getName.startsWith("_b=")
      if !keep(b.getName.stripPrefix("_b=").toInt)
    } org.apache.commons.io.FileUtils.deleteDirectory(b)

  test("getKey: point read lists exactly ONE base bucket dir, merges " +
       "pending deltas by key, and equals get().filter on every key") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_pt").toString
    // compactFrac huge: deltas stay pending, so reads must merge them
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 8, compactFrac = 1e9)
    sink.put("c", df((1L to 200L).map(i => i -> s"v$i"): _*))
    sink.mergeDelta("c", df(7L -> "NEW", 300L -> "add"), Seq("k"))

    // delta-replaced key: delta wins over the base row
    assert(rowSet(sink.getKey(spark, "c", Seq(7L))) == Set(7L -> "NEW"))

    // delta-only, base-only and absent keys
    assert(rowSet(sink.getKey(spark, "c", Seq(300L))) == Set(300L -> "add"))
    assert(rowSet(sink.getKey(spark, "c", Seq(42L))) == Set(42L -> "v42"))
    assert(sink.getKey(spark, "c", Seq(9999L)).count() == 0)

    // getKey == get().filter across a key sample (incl. post-compaction:
    // drop compactFrac so the next merge folds the pending deltas)
    val sink2 = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 8, compactFrac = 1e-9)
    sink2.mergeDelta("c", df(8L -> "NEW8"), Seq("k"))
    val full = rowSet(sink2.get(spark, "c"))
    for (k <- Seq(1L, 7L, 8L, 100L, 300L, 9999L))
      assert(rowSet(sink2.getKey(spark, "c", Seq(k))) ==
        full.filter(_._1 == k),
        s"getKey($k) diverged from the snapshot")
    // after compaction there are no deltas: the key's home bucket is
    // the only base file the point read needs - every other bucket can
    // go, and the point read still answers while a full read fails
    dropBucketsExcept(root, "c", Set(bucketOf(8L, 8)))
    assert(rowSet(sink2.getKey(spark, "c", Seq(8L))) == Set(8L -> "NEW8"))
    intercept[Exception](sink2.get(spark, "c").collect())
  }

  test("getKeys multiget: one plan listing only the requested keys' " +
       "home buckets; equals the per-key getKey union") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_mget").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 8, compactFrac = 1e9)
    sink.put("c", df((1L to 200L).map(i => i -> s"v$i"): _*))
    sink.mergeDelta("c", df(7L -> "NEW", 300L -> "add"), Seq("k"))
    val ks = Seq(7L, 42L, 300L, 9999L)
    val got = sink.getKeys(spark, "c", ks.map(Seq[Any](_)))
    assert(rowSet(got) ==
      ks.flatMap(k => rowSet(sink.getKey(spark, "c", Seq(k)))).toSet)
    // the read needs no base bucket but the keys' distinct homes
    val homes = ks.map(bucketOf(_, 8)).toSet
    assert(homes.size < 8, s"the keys must leave a bucket out: $homes")
    dropBucketsExcept(root, "c", homes)
    assert(rowSet(sink.getKeys(spark, "c", ks.map(Seq[Any](_)))) ==
      Set(7L -> "NEW", 42L -> "v42", 300L -> "add"))
    intercept[Exception](sink.get(spark, "c").collect())
  }

  test("bucketed sink: torn publish stays invisible and a replay " +
       "rewrites the orphan (idempotent)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_torn").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 4, compactFrac = 1e9)
    sink.mergeDelta("c", df(1L -> "a", 2L -> "b"), Seq("k"))
    // simulate a crash between the delta write and the manifest flip:
    // an orphan v=2 with data but no committed _LATEST bump
    df(9L -> "x").write.parquet(s"$root/c/v=2/delta")
    assert(sink.currentVersion(spark, "c").contains(1L))
    assert(rowSet(sink.get(spark, "c")) == Set(1L -> "a", 2L -> "b"),
      "torn delta became visible")
    // the replayed batch rewrites the orphan and commits
    sink.mergeDelta("c", df(2L -> "B2"), Seq("k"))
    assert(sink.currentVersion(spark, "c").contains(2L))
    assert(rowSet(sink.get(spark, "c")) == Set(1L -> "a", 2L -> "B2"))
  }

  test("bucketed sink: empty delta publishes nothing (no version bump)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_empty").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"), numBuckets = 4)
    sink.mergeDelta("c", df(1L -> "a"), Seq("k"))
    sink.mergeDelta("c", df(1L -> "a").limit(0), Seq("k"))
    assert(sink.currentVersion(spark, "c").contains(1L))
    assert(rowSet(sink.get(spark, "c")) == Set(1L -> "a"))
  }

  test("bucketed sink: a reader racing delta publishes and compactions " +
       "never sees a torn snapshot and observes monotone versions") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_race").toString
    // small compactFrac: the publish sequence alternates append/compact
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 4, keepVersions = 4, compactFrac = 0.5)
    val rows = 40
    // snapshot i: every key carries value i - a torn read mixes values
    def snap(i: Int) = (1 to rows).map(k => k.toLong -> s"$i").toSeq
    sink.put("c", df(snap(0): _*))
    @volatile var stop = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val vals = sink.get(spark, "c").collect()
            .map(_.getString(1).toInt).toSeq
          if (vals.length != rows || vals.distinct.length != 1)
            errs.add(s"torn snapshot: n=${vals.length}, " +
              s"values=${vals.distinct.sorted}")
          else seen.add(vals.head)
        } catch { case e: Throwable => errs.add(e.toString) }
      }
    })
    reader.start()
    try for (i <- 1 to 6) sink.mergeDelta("c", df(snap(i): _*), Seq("k"))
    finally { stop = true; reader.join() }
    assert(errs.isEmpty, s"racing reader observed: $errs")
    assert(!seen.isEmpty, "reader must complete at least one read")
    val vs = seen.toArray(Array.empty[Integer]).map(_.toInt).toSeq
    assert(vs.forall(v => v >= 0 && v <= 6))
    assert(vs == vs.sorted, s"versions must be monotone: $vs")
  }

  test("update-mode count publish through the bucketed sink equals the " +
       "one-shot batch state and replays idempotently") {
    val s = spark; import s.implicits._
    val watch = java.nio.file.Files
      .createTempDirectory("graft_bupd_watch").toString
    val root = java.nio.file.Files
      .createTempDirectory("graft_bupd_sink").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_bupd_cp").toString
    val ev = graft.core.Graft.table(spark, sfDir, "events")
    def land(d: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$watch/_t"
      d.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name))
    }
    // compactFrac tiny so the second catch-up exercises the bucketed
    // compaction, not just the append
    val sink = new BucketedSnapshotCacheSink(root,
      graft.streaming.StreamSum.countSinkKeys, numBuckets = 8,
      compactFrac = 1e-9)
    land(ev.filter(pmod(col("event_id"), lit(2)) === 0), "a1.parquet")
    graft.streaming.StreamSum.streamCountsToSinkUpdate(
      spark, watch, sink, "counts", Some(cp), glob = "*.parquet")
    land(ev.filter(pmod(col("event_id"), lit(2)) === 1), "a2.parquet")
    graft.streaming.StreamSum.streamCountsToSinkUpdate(
      spark, watch, sink, "counts", Some(cp), glob = "*.parquet")
    def key(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.select(concat_ws("|", col("cache"), col("s"), col("a"), col("o"),
        col("cnt"), col("last_t"))).collect().map(_.getString(0)).toSet
    val full = graft.core.Caches.countState(
      graft.core.Transform(graft.core.Transform.extractFrom(
        spark.read.option("pathGlobFilter", "*.parquet").parquet(watch))))
    assert(key(sink.get(spark, "counts")) == key(full),
      "incrementally merged bucketed snapshot must equal one-shot state")
    // no-op catch-up leaves the state equal
    graft.streaming.StreamSum.streamCountsToSinkUpdate(
      spark, watch, sink, "counts", Some(cp), glob = "*.parquet")
    assert(key(sink.get(spark, "counts")) == key(full))
  }

  /** Jobs `f` starts, counted by a listener after a bus drain. */
  private def jobs[T](f: => T): (T, Int) = {
    val (r, actions) = jobActions(f)
    (r, actions.length)
  }

  /** The action behind each job `f` starts, in start order: the
    * description of the job's SQL execution, which is the action's call
    * site ("parquet at CacheSink.scala:..." for a write, "collect at
    * ..." for a collect), or "" for a job outside any.
    */
  private def jobActions[T](f: => T): (T, Seq[String]) = {
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          actions.put(s.executionId.toString, s.description)
        case _ => ()
      }
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.ListenerDrain(sc)
      (r, started.toArray(Array.empty[String]).toSeq
        .map(actions.getOrDefault(_, "")))
    } finally sc.removeSparkListener(l)
  }

  test("point reads and appends run only the jobs their answer needs: " +
       "no job for a point read, no delta read-back") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_jobs").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 8, compactFrac = 1e9)
    sink.put("c", df((1L to 200L).map(i => i -> s"v$i"): _*))
    // no pending delta: neither building nor collecting runs a job
    val (d0, built0) = jobs(sink.getKey(spark, "c", Seq(42L)))
    assert(built0 == 0, s"building getKey ran $built0 job(s)")
    val (r0, read0) = jobs(rowSet(d0))
    assert(r0 == Set(42L -> "v42") && read0 == 0,
      s"collecting getKey without deltas ran $read0 job(s)")
    // an append runs exactly the jobs the same delta's write runs
    val d1 = df(7L -> "NEW", 300L -> "add")
    val (_, plainWrite) = jobs(d1.write.parquet(s"$root/plain"))
    val (_, append1) = jobs(sink.mergeDelta("c", d1, Seq("k")))
    val (_, append2) = jobs(
      sink.mergeDelta("c", df(7L -> "NEWER", 8L -> "x"), Seq("k")))
    assert(append1 == plainWrite && append2 == plainWrite,
      s"appends ran $append1/$append2 jobs, the write alone $plainWrite")
    assert(sink.currentVersion(spark, "c").contains(3L))
    // two pending deltas: still no job, building or collecting
    for (ks <- Seq(Seq(7L), Seq(7L, 8L, 42L, 300L, 9999L))) {
      val (d, built) = jobs(sink.getKeys(spark, "c", ks.map(Seq[Any](_))))
      assert(built == 0, s"building getKeys($ks) ran $built job(s)")
      val (got, read) = jobs(rowSet(d))
      assert(read == 0, s"collecting getKeys($ks) ran $read job(s)")
      assert(got == rowSet(sink.get(spark, "c")).filter(r => ks.contains(r._1)))
    }
    val (_, builtGet) = jobs(sink.get(spark, "c"))
    assert(builtGet == 0, s"building get ran $builtGet job(s)")

    // the facade's getCount: no job at 0, 1 and 2 pending deltas
    val s = spark; import s.implicits._
    val keys = graft.streaming.StreamSum.countSinkKeys
    val counts = new BucketedSnapshotCacheSink(s"$root/counts", keys,
      numBuckets = 8, compactFrac = 1e9)
    def st(rows: (Long, String, Long, Long, Long)*) =
      rows.toDF("s", "a", "o", "cnt", "last_t")
        .select(lit("c0").as("cache"), col("*"))
    counts.put("n", st((0L, "a0", 1L, 1L, 10L), (0L, "a0", 2L, 4L, 11L)))
    for (pending <- 0 to 2) {
      if (pending > 0) counts.mergeDelta("n",
        st((0L, "a0", 1L, 1L + pending, 20L + pending)), keys)
      val view = new graft.api.SinkCountSummaryView(spark, counts, "n", "c0")
      val (got, ran) = jobs(view.getCount(0L, "a0", 1L))
      assert(got == ((1L, 1L + pending, Some(if (pending == 0) 10L
        else 20L + pending))) && ran == 0,
        s"getCount at $pending pending delta(s) gave $got with $ran job(s)")
      val (absent, ranAbsent) = jobs(view.getCount(9L, "a0", 1L))
      assert(absent == ((1L, 0L, None)) && ranAbsent == 0)
    }
  }

  test("the layout describes itself: a fresh sink instance over the same " +
       "root serves get, getKey and getKeys identically") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_fresh").toString
    val mk = () => new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 8, compactFrac = 1e9)
    val writer = mk()
    writer.put("c", df((1L to 100L).map(i => i -> s"v$i"): _*))
    writer.mergeDelta("c", df(7L -> "NEW", 300L -> "add"), Seq("k"))
    writer.mergeDelta("c", df(7L -> "NEWER", 8L -> "x"), Seq("k"))
    // the schema is recorded in the version's _STATE as its S line
    val stateLines = scala.io.Source.fromFile(s"$root/c/v=3/_STATE")
    val sLine = try stateLines.getLines().toList.filter(_.startsWith("S "))
      finally stateLines.close()
    assert(sLine.map(l => org.apache.spark.sql.types.DataType
      .fromJson(l.drop(2))) == List(df(1L -> "a").schema),
      s"_STATE must carry the relation's schema, got $sLine")
    val reader = mk()
    val ks = Seq(7L, 8L, 42L, 300L, 9999L)
    assert(rowSet(reader.get(spark, "c")) == rowSet(writer.get(spark, "c")))
    assert(rowSet(reader.get(spark, "c")).size == 101)
    for (k <- ks) assert(rowSet(reader.getKey(spark, "c", Seq(k))) ==
      rowSet(writer.getKey(spark, "c", Seq(k))))
    assert(rowSet(reader.getKeys(spark, "c", ks.map(Seq[Any](_)))) ==
      Set(7L -> "NEWER", 8L -> "x", 42L -> "v42", 300L -> "add"))
  }

  test("bucketed sink: a delta whose columns drift from the published " +
       "schema fails loud and publishes nothing") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_drift").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"), numBuckets = 4,
      compactFrac = 1e9)
    sink.put("c", df(1L -> "a", 2L -> "b"))
    val drifted = Seq(
      Seq(1L -> 5L).toDF("k", "v"),               // v: string -> bigint
      Seq((1L, "a", 1)).toDF("k", "v", "extra"),  // added column
      Seq(1L).toDF("k"),                          // dropped column
      Seq(1L -> "a").toDF("k", "w"))              // renamed column
    for (d <- drifted) {
      val e = intercept[IllegalArgumentException] {
        sink.mergeDelta("c", d, Seq("k"))
      }
      assert(e.getMessage.contains(d.schema.simpleString) &&
        e.getMessage.contains(df(1L -> "a").schema.simpleString),
        s"the error must name both schemas: ${e.getMessage}")
    }
    assert(sink.currentVersion(spark, "c").contains(1L))
    // column order and nullability are not drift: reads go by name
    sink.mergeDelta("c", Seq("B" -> 2L).toDF("v", "k"), Seq("k"))
    assert(rowSet(sink.get(spark, "c")) == Set(1L -> "a", 2L -> "B"))
    assert(rowSet(sink.getKey(spark, "c", Seq(2L))) == Set(2L -> "B"))
  }

  test("bucketed sink: an empty first publish flips nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_empty0").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"), numBuckets = 4)
    sink.put("c", df(1L -> "a").limit(0))
    sink.mergeDelta("c", df(1L -> "a").limit(0), Seq("k"))
    assert(sink.currentVersion(spark, "c").isEmpty)
    sink.mergeDelta("c", df(1L -> "a"), Seq("k"))
    assert(rowSet(sink.getKey(spark, "c", Seq(1L))) == Set(1L -> "a"))
  }

  /** A relation's rows as a multiset, in a stable order. */
  private def rows(rs: Seq[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
    rs.map(_.toSeq).sortBy(_.mkString("|"))

  /** getKey, getKeys and lookup of every key row equal `get` filtered by
    * the same key predicate, at the sink's current version.
    */
  private def assertPointReads(sink: BucketedSnapshotCacheSink, name: String,
                               keyCols: Seq[String],
                               keyRows: Seq[Seq[Any]], at: String): Unit = {
    val full = sink.get(spark, name)
    def oracle(ks: Seq[Seq[Any]]) = rows(full.where(ks.map { r =>
      keyCols.zip(r).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
    }.reduce(_ || _)).collect().toSeq)
    for (k <- keyRows) {
      val want = oracle(Seq(k))
      assert(rows(sink.getKey(spark, name, k).collect().toSeq) == want,
        s"getKey($k) $at")
      assert(rows(sink.lookup(spark, name, Seq(k))) == want,
        s"lookup($k) $at")
    }
    assert(rows(sink.getKeys(spark, name, keyRows).collect().toSeq) ==
      oracle(keyRows), s"getKeys $at")
    assert(rows(sink.lookup(spark, name, keyRows)) == oracle(keyRows),
      s"lookup of every key $at")
  }

  test("point reads equal get().filter at every version: 0, 1 and 2 " +
       "pending deltas and after a compaction; absent, delta-only and " +
       "twice-overwritten keys; Int values for Long key columns") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_eq").toString
    val pending = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 8, compactFrac = 1e9)
    val ks: Seq[Seq[Any]] = Seq(1L, 7L, 8L, 42L, 300L, 301L, 9999L)
      .map(Seq[Any](_)) ++ Seq(Seq[Any](7), Seq[Any](300), Seq[Any](5))
    pending.put("c", df((1L to 200L).map(i => i -> s"v$i"): _*))
    assertPointReads(pending, "c", Seq("k"), ks, "at 0 pending deltas")
    // 7 overwritten, 300 exists only in the delta
    pending.mergeDelta("c", df(7L -> "NEW", 300L -> "add"), Seq("k"))
    assertPointReads(pending, "c", Seq("k"), ks, "at 1 pending delta")
    // 7 overwritten twice, 8 once, 301 delta-only again
    pending.mergeDelta("c", df(7L -> "NEWER", 8L -> "x", 301L -> "y"),
      Seq("k"))
    assertPointReads(pending, "c", Seq("k"), ks, "at 2 pending deltas")
    assert(rowSet(pending.getKey(spark, "c", Seq(7))) == Set(7L -> "NEWER"))
    // the next merge compacts: no delta pending, buckets rewritten
    val compacting = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 8, compactFrac = 1e-9)
    compacting.mergeDelta("c", df(42L -> "z"), Seq("k"))
    val state = scala.io.Source.fromFile(s"$root/c/v=4/_STATE")
    val pendingAt4 = try state.getLines().count(_.startsWith("D "))
      finally state.close()
    assert(pendingAt4 == 0, "the fourth version must be a compaction")
    assertPointReads(compacting, "c", Seq("k"), ks, "after a compaction")
  }

  test("last-N-shaped sink: a key's rows are replaced as a whole by the " +
       "latest version holding it, in every point read") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_ring").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 4, compactFrac = 1e9)
    def ring(rs: (Long, Int, String)*) = rs.toDF("k", "slot", "v")
    sink.put("r", ring((1L, 0, "a"), (1L, 1, "b"), (1L, 2, "c"),
      (2L, 0, "p"), (2L, 1, "q")))
    val ks = Seq(1L, 2L, 3L).map(Seq[Any](_))
    // key 1's ring shrinks to two rows; key 3 appears
    sink.mergeDelta("r", ring((1L, 0, "d"), (1L, 1, "e"), (3L, 0, "n")),
      Seq("k"))
    assertPointReads(sink, "r", Seq("k"), ks, "after one ring refresh")
    // key 1's ring refreshed again, to one row; key 2 untouched
    sink.mergeDelta("r", ring((1L, 0, "f")), Seq("k"))
    assertPointReads(sink, "r", Seq("k"), ks, "after two ring refreshes")
    assert(sink.lookup(spark, "r", Seq(Seq(1L))).map(_.getString(2)) ==
      Seq("f"))
    assert(sink.lookup(spark, "r", Seq(Seq(2L))).map(_.getString(2))
      .sorted == Seq("p", "q"))
  }

  test("a getKeys result stays readable after retention deletes the " +
       "version it was read from") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_keep").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 4, keepVersions = 2, compactFrac = 1e9)
    sink.put("c", df(1L -> "a", 2L -> "b", 3L -> "c"))
    sink.mergeDelta("c", df(2L -> "B"), Seq("k"))
    val read = sink.getKeys(spark, "c", Seq(Seq(1L), Seq(2L), Seq(9L)))
    for (i <- 1 to 3) sink.put("c", df(1L -> s"r$i"))
    assert(!new java.io.File(s"$root/c/v=1").exists() &&
      !new java.io.File(s"$root/c/v=2").exists(),
      "retention must have deleted the versions the read came from")
    assert(rowSet(read) == Set(1L -> "a", 2L -> "B"))
  }

  test("a 64-bucket sink lists its files on the driver: building get " +
       "runs no job, and a compaction touching every bucket starts no " +
       "listing job") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_list").toString
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 64, compactFrac = 0.5)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      sink.put("c", df((1L to 2000L).map(i => i -> s"v$i"): _*))
      assert(new java.io.File(s"$root/c/v=1/base").listFiles()
        .count(_.getName.startsWith("_b=")) == 64)
      val (_, built) = jobs(sink.get(spark, "c"))
      assert(built == 0, s"building get on 64 buckets ran $built job(s)")
      // 1,500 changed keys: every bucket touched, and past compactFrac
      sink.mergeDelta("c", df((1L to 1500L).map(i => i -> s"w$i"): _*),
        Seq("k"))
      assert(new java.io.File(s"$root/c/v=2/base").listFiles()
        .count(_.getName.startsWith("_b=")) == 64, "must compact them all")
      val got = rowSet(sink.get(spark, "c"))
      assert(got.size == 2000 && got(1L -> "w1") && got(2000L -> "v2000"))
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(l)
    val listing = started.toArray(Array.empty[String])
      .filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs ran: ${listing.toSeq}")
  }

  /** The `_STATE` lines of version `v` of cache `name`. */
  private def stateLines(root: String, name: String, v: Int): Seq[String] = {
    val src = scala.io.Source.fromFile(s"$root/$name/v=$v/_STATE")
    try src.getLines().toList finally src.close()
  }

  /** The buckets the rows of parquet dir `dir` hash to, by the sink's
    * own bucket function over key column `k`.
    */
  private def bucketsOfRows(dir: String, n: Int): Set[Int] =
    spark.read.parquet(dir).select(pmod(hash(col("k")), lit(n)))
      .collect().map(_.getInt(0)).toSet

  test("a put and a compaction run only their write's jobs, and an " +
       "append only the delta's: nothing is read back or collected") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_pubjobs").toString
    val nb = 8
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = nb, compactFrac = 0.05)
    val base = df((1L to 200L).map(i => i -> s"v$i"): _*)
    // the same rows written bucketed as the sink writes them: one
    // exchange on the bucket, one file per bucket
    val (_, plainBase) = jobActions(base
      .withColumn("_b", pmod(hash(col("k")), lit(nb))).repartition(col("_b"))
      .write.partitionBy("_b").parquet(s"$root/plain_base"))
    val (_, put) = jobActions(sink.put("c", base))
    assert(put.length == plainBase.length &&
      put.forall(_.startsWith("parquet")),
      s"put ran $put; the bucketed write alone $plainBase")
    val d1 = df(7L -> "NEW", 300L -> "add")
    val (_, plainDelta) = jobActions(d1.write.parquet(s"$root/plain_delta"))
    val (_, append) = jobActions(sink.mergeDelta("c", d1, Seq("k")))
    assert(append.length == plainDelta.length &&
      append.forall(_.startsWith("parquet")),
      s"append ran $append; the delta write alone $plainDelta")
    // 2 + 9 pending rows pass 5% of the 200-row base: this one compacts
    val d2 = df((20L to 28L).map(i => i -> s"w$i"): _*)
    val (_, plainD2) = jobActions(d2.write.parquet(s"$root/plain_d2"))
    val (_, compaction) = jobActions(sink.mergeDelta("c", d2, Seq("k")))
    assert(!stateLines(root, "c", 3).exists(_.startsWith("D ")),
      "the third version must be a compaction")
    assert(compaction.length <= plainD2.length + 2 &&
      compaction.forall(_.startsWith("parquet")),
      s"compaction ran $compaction; the delta write alone $plainD2")
    val got = rowSet(sink.get(spark, "c"))
    assert(got.size == 201 && got(7L -> "NEW") && got(20L -> "w20") &&
      got(300L -> "add") && got(1L -> "v1"))
  }

  test("_STATE tells the truth: every B count is the rows in its bucket's " +
       "files, every D bucket set the buckets of that delta's rows") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_truth").toString
    val nb = 8
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = nb, compactFrac = 0.05)
    def assertTruth(v: Int): Unit = {
      val lines = stateLines(root, "c", v)
      for (l <- lines if l.startsWith("B ")) {
        val Array(_, b, bv, n) = l.split(" ")
        val rows = spark.read.parquet(s"$root/c/v=$bv/base/_b=$b").count()
        assert(rows == n.toLong, s"v=$v: '$l' but the bucket holds $rows rows")
      }
      for (l <- lines if l.startsWith("D ")) {
        val Array(_, dv, n, bs) = l.split(" ")
        val dir = s"$root/c/v=$dv/delta"
        assert(spark.read.parquet(dir).count() == n.toLong, s"v=$v: '$l'")
        assert(bs.split(",").map(_.toInt).toSet == bucketsOfRows(dir, nb),
          s"v=$v: '$l' but the delta's rows hash to ${bucketsOfRows(dir, nb)}")
      }
    }
    sink.put("c", df((1L to 200L).map(i => i -> s"v$i"): _*))
    assertTruth(1)
    sink.mergeDelta("c", df(7L -> "a", 8L -> "b", 300L -> "c"), Seq("k"))
    assertTruth(2)
    sink.mergeDelta("c", df(7L -> "a2", 9L -> "b2", 301L -> "c2"), Seq("k"))
    assertTruth(3)
    assert(stateLines(root, "c", 3).count(_.startsWith("D ")) == 2)
    // 3 + 3 + 5 pending rows pass 5% of the base: a compaction
    sink.mergeDelta("c", df((40L to 44L).map(i => i -> s"w$i"): _*),
      Seq("k"))
    val lines4 = stateLines(root, "c", 4)
    assert(!lines4.exists(_.startsWith("D ")), "v=4 must be a compaction")
    assert(lines4.count(_.startsWith("B ")) == nb)
    assertTruth(4)
    assert(lines4.filter(_.startsWith("B ")).map(_.split(" ")(3).toLong).sum ==
      202L, "the B counts must sum to the snapshot's rows")
  }

  /** A last-N ring row: key, slot, value. */
  private type Slot = (Long, Int, String)

  test("a last-N-shaped sink compacted over a base and two deltas equals " +
       "the batch answer, each key's ring replaced whole") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_ringcmp").toString
    // 6 + 6 pending rows pass 20% of the 40-row base: the second
    // delta compacts
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = 4, compactFrac = 0.2)
    def ring(rs: Slot*) = rs.toDF("k", "slot", "v")
    val base: Seq[Slot] = for (k <- 1L to 10L; slot <- 0 until 4)
      yield (k, slot, s"b$k.$slot")
    // key 1 shrinks to 2 rows, then to 1; key 3 shrinks to 1 row twice;
    // key 2 keeps its 4 slots with new values; key 11 is new
    val d1: Seq[Slot] = Seq((1L, 0, "x"), (1L, 1, "y"), (3L, 0, "p")) ++
      (0 until 3).map(i => (11L, i, s"n$i"))
    val d2: Seq[Slot] = Seq((1L, 0, "z"), (3L, 0, "q")) ++
      (0 until 4).map(i => (2L, i, s"g$i"))
    sink.put("r", ring(base: _*))
    sink.mergeDelta("r", ring(d1: _*), Seq("k"))
    assert(stateLines(root, "r", 2).count(_.startsWith("D ")) == 1)
    sink.mergeDelta("r", ring(d2: _*), Seq("k"))
    assert(!stateLines(root, "r", 3).exists(_.startsWith("D ")),
      "the second delta must compact")
    // the batch answer: each key's rows come from the last relation
    // holding it
    val want = Seq(base, d1, d2).foldLeft(Map.empty[Long, Seq[Slot]]) {
      (acc, rel) => acc ++ rel.groupBy(_._1)
    }.values.flatten.toSet
    val got = sink.get(spark, "r").as[Slot].collect().toSet
    assert(got == want)
    assert(sink.lookup(spark, "r", Seq(Seq(1L))).map(_.getString(2)) ==
      Seq("z"))
    assert(sink.lookup(spark, "r", Seq(Seq(2L))).map(_.getString(2))
      .sorted == (0 until 4).map(i => s"g$i"))
  }

  test("a compaction whose deltas touch only buckets the base does not " +
       "home writes those buckets and carries every base bucket forward") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_newbkt").toString
    val nb = 8
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = nb, compactFrac = 0.1)
    val byBucket = (1L to 400L).groupBy(bucketOf(_, nb))
    val baseKeys = byBucket(0).take(15) ++ byBucket(1).take(15)
    val deltaKeys = byBucket(5).take(3) ++ byBucket(6).take(3)
    sink.put("c", df(baseKeys.map(k => k -> s"v$k"): _*))
    val baseFiles = files(root, "c")
    assert(stateLines(root, "c", 1).count(_.startsWith("B ")) == 2)
    sink.mergeDelta("c", df(deltaKeys.map(k => k -> s"d$k"): _*), Seq("k"))
    val lines = stateLines(root, "c", 2)
    assert(!lines.exists(_.startsWith("D ")), "v=2 must be a compaction")
    val homes = lines.filter(_.startsWith("B ")).map(_.split(" "))
      .map(a => a(1).toInt -> a(2).toLong).toMap
    assert(homes == Map(0 -> 1L, 1 -> 1L, 5 -> 2L, 6 -> 2L),
      s"bucket homes after the compaction: $homes")
    baseFiles.foreach { case (p, h) =>
      assert(files(root, "c").get(p).contains(h), s"base file changed: $p") }
    assert(rowSet(sink.get(spark, "c")) ==
      (baseKeys.map(k => k -> s"v$k") ++ deltaKeys.map(k => k -> s"d$k")).toSet)
    for (k <- Seq(baseKeys.head, deltaKeys.head, deltaKeys.last))
      assert(rowSet(sink.getKey(spark, "c", Seq(k))) ==
        rowSet(sink.get(spark, "c")).filter(_._1 == k))
  }

  test("every P set is the buckets of its partition's delta files, and a " +
       "point read opens only the delta files that can hold its key") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_parts").toString
    val nb = 8
    val sink = new BucketedSnapshotCacheSink(root, Seq("k"),
      numBuckets = nb, compactFrac = 1e9)
    sink.put("c", df((1L to 200L).map(i => i -> s"v$i"): _*))
    // hash-partitioned on the key into 4 parts, as a keyed streaming
    // aggregation hands its output over: part = bucket mod 4
    sink.mergeDelta("c", df((1L to 40L).map(i => i -> s"d$i"): _*)
      .repartition(4, col("k")), Seq("k"))
    val dir = new java.io.File(s"$root/c/v=2/delta")
    val partFiles = dir.listFiles().filter(_.getName.startsWith("part-"))
      .groupBy(_.getName.stripPrefix("part-").takeWhile(_ != '-').toInt)
    assert(partFiles.size == 4, s"the delta must be 4 parts: $partFiles")
    val lines = stateLines(root, "c", 2)
    val parts = lines.filter(_.startsWith("P ")).map { l =>
      val Array(_, dv, p, bs) = l.split(" ")
      assert(dv == "2", s"'$l' names another delta")
      p.toInt -> bs.split(",").map(_.toInt).toSet
    }.toMap
    assert(parts.keySet == partFiles.keySet, s"P lines $parts")
    partFiles.foreach { case (p, fs) =>
      val got = fs.map(f => bucketsOfRows(f.getPath, nb)).reduce(_ ++ _)
      assert(parts(p) == got, s"P set of part $p is ${parts(p)}, rows $got")
      assert(got.forall(_ % 4 == p), s"part $p holds buckets $got")
    }
    val dLine = lines.find(_.startsWith("D ")).get.split(" ")
    assert(dLine(3).split(",").map(_.toInt).toSet == parts.values.flatten.toSet)
    // garble every delta file but key 7's: its point read still answers,
    // a read of the whole snapshot no longer can
    val p7 = parts.collectFirst { case (p, bs) if bs(bucketOf(7L, nb)) => p }.get
    for ((p, fs) <- partFiles if p != p7; f <- fs)
      java.nio.file.Files.write(f.toPath, "not parquet".getBytes)
    assert(rowSet(sink.getKey(spark, "c", Seq(7L))) == Set(7L -> "d7"))
    intercept[Exception](sink.get(spark, "c").collect())
  }

  test("point-read key matching keeps the analyzer's coercion and null " +
       "semantics, analyzed once per type signature") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_keytypes").toString
    // a Long key read with Int values, and with a null value
    val longs = new BucketedSnapshotCacheSink(root, Seq("k"), numBuckets = 4)
    longs.put("l", df((1L to 50L).map(i => i -> s"v$i"): _*))
    assert(longs.lookup(spark, "l", Seq(Seq(7))).map(_.getString(1)) ==
      Seq("v7"))
    assert(longs.lookup(spark, "l", Seq(Seq(null))).isEmpty)
    assert(longs.lookup(spark, "l", Seq(Seq(null), Seq(8), Seq(9L)))
      .map(_.getString(1)).sorted == Seq("v8", "v9"))
    // an Int key read with Long values: one that wraps to an existing
    // Int must match nothing
    val ints = new BucketedSnapshotCacheSink(root, Seq("i"), numBuckets = 4)
    ints.put("i", (1 to 50).map(i => i -> s"v$i").toDF("i", "v"))
    assert(ints.lookup(spark, "i", Seq(Seq(7L))).map(_.getString(1)) ==
      Seq("v7"))
    val wraps = (1L << 32) + 7L
    assert(wraps.toInt == 7)
    assert(ints.lookup(spark, "i", Seq(Seq(wraps))).isEmpty)
    assert(ints.getKey(spark, "i", Seq(wraps)).count() == 0)
    // 20 Long keys, then 20 more: one analyzed condition serves them
    def keyMatches = graft.core.Memo.ids(spark).count {
      case (_, ("sinkKeyMatch", schema, _, _)) =>
        schema == org.apache.spark.sql.GraftBridge.asNullable(
          df(1L -> "a").schema)
      case _ => false
    }
    longs.lookup(spark, "l", (1L to 20L).map(Seq[Any](_)))
    longs.lookup(spark, "l", (21L to 40L).map(Seq[Any](_)))
    assert(keyMatches == 3, "one condition per signature: Long, Int, null")
  }

  test("a catch-up with no new file starts no job") {
    val s = spark; import s.implicits._
    val watch = java.nio.file.Files
      .createTempDirectory("graft_bsink_idle_watch").toString
    val root = java.nio.file.Files
      .createTempDirectory("graft_bsink_idle_sink").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_bsink_idle_cp").toString
    graft.core.Graft.table(spark, sfDir, "events").limit(200).coalesce(1)
      .write.mode("overwrite").parquet(s"$watch/a1")
    val sink = new BucketedSnapshotCacheSink(root,
      graft.streaming.StreamSum.countSinkKeys, numBuckets = 8)
    def catchUp() = graft.streaming.StreamSum.streamCountsToSinkUpdate(
      spark, s"$watch/a1", sink, "counts", Some(cp), glob = "*.parquet")
    catchUp()
    assert(sink.currentVersion(spark, "counts").contains(1L))
    val (_, idle) = jobs(catchUp())
    assert(idle == 0, s"a catch-up with nothing new ran $idle job(s)")
    assert(sink.currentVersion(spark, "counts").contains(1L))
  }

  /** Moves the one part file Spark wrote under `tmp` to `to`. */
  private def single(tmp: String, to: java.nio.file.Path): Unit = {
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(to.getParent)
    java.nio.file.Files.move(part.toPath, to)
  }

  test("a catch-up's landing schema, read from one footer, equals " +
       "Spark's inference with no job: a table file, a glob over files " +
       "of different schemas, a partitioned dir") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.GraftBridge.parquetSchema
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_schema")
    val events = s"$sfDir/events.parquet"
    val (got, ran) = jobs(parquetSchema(spark, events))
    assert(got == spark.read.parquet(events).schema && ran == 0,
      s"$got with $ran job(s)")
    // every table a streaming face reads as a landing-dir stream
    for (t <- Seq("events", "documents", "embeddings", "lineitem", "orders")) {
      val (stream, ran) = jobs(graft.streaming.StreamSum
        .fileStream(spark, sfDir, s"$t.parquet"))
      assert(stream.isStreaming && ran == 0, s"$t: $ran job(s)")
      assert(stream.schema == spark.read.parquet(s"$sfDir/$t.parquet").schema,
        s"$t: ${stream.schema.simpleString}")
    }
    // inference without merging takes the first file by path
    Seq((1L, "x")).toDF("a", "b").coalesce(1).write.parquet(s"$dir/t1")
    single(s"$dir/t1", dir.resolve("land/b.parquet"))
    Seq((1, 2.0)).toDF("a", "c").coalesce(1).write.parquet(s"$dir/t2")
    single(s"$dir/t2", dir.resolve("land/a.parquet"))
    Seq("z").toDF("z").coalesce(1).write.parquet(s"$dir/t3")
    single(s"$dir/t3", dir.resolve("land/0.skip"))
    val land = s"$dir/land"
    for (opts <- Seq(Map("pathGlobFilter" -> "*.parquet"),
                     Map("pathGlobFilter" -> "b*"), Map.empty[String, String])) {
      val (got, ran) = jobs(parquetSchema(spark, land, opts))
      assert(got == spark.read.options(opts).parquet(land).schema && ran == 0,
        s"$opts: $got with $ran job(s)")
    }
    Seq((1L, 3, "p"), (2L, 4, "q")).toDF("a", "p", "v")
      .write.partitionBy("p").parquet(s"$dir/parts")
    assert(parquetSchema(spark, s"$dir/parts") ==
      spark.read.parquet(s"$dir/parts").schema)
    // no file: both fail the same way
    java.nio.file.Files.createDirectories(dir.resolve("empty"))
    intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(s"$dir/empty").schema)
    intercept[org.apache.spark.sql.AnalysisException](
      parquetSchema(spark, s"$dir/empty"))
  }
}
