package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup + similarity behavior: LSH finds the planted near-dups the
  * exact Jaccard confirms; ANN approximations are subsets of the exact
  * baseline with sane recall.
  */
class DedupSimSpec extends SparkSpec {

  test("exact dedup: groups are consistent") {
    val r = Dedup.exact(spark, sfDir)
    assert(r.count() == 500)
    assert(r.filter(col("is_canonical")).count() ===
      r.select("content_hash").distinct().count())
  }

  test("minhash LSH candidates ⊇ high-jaccard pairs it verifies") {
    val cand = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty, "expected planted near-duplicates")
    assert(verified.subsetOf(cand))
  }

  test("cross dedup: asymmetric - only shard docs drop, B×B and A×A " +
       "pairs never reach the verdict, keeper is the canonical A match") {
    val s = spark; import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten"
    val third = "red orange yellow green blue indigo violet umber ochre teal"
    val docs = Seq(
      2L -> base,           // A (even): kept
      3L -> base,           // B (odd): dup of A:2 -> must drop, keeper 2
      4L -> other, 6L -> other, // A×A dup pair: A never drops
      5L -> third, 7L -> third  // B×B dup pair with no A match: not
                                // this op's business - absent
    ).toDF("doc_id", "text")
    val sh = Dedup.shinglesFrom(docs).select(col("doc_id"), col("hs"))
    val out = Dedup.crossDedupFrom(Dedup.bandsFrom(sh), sh).collect()
    assert(out.length == 1, s"only the A-matched shard doc: ${out.toSeq}")
    val r = out.head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L,
      s"doc 3 drops with keeper 2: $r")
    assert(r.getLong(2) >= 1L && r.getDouble(3) == 1.0,
      s"exact dup verifies at jaccard 1.0: $r")
  }

  test("edit verify: hand-computed Levenshtein on planted candidates; " +
       "the 10% rule admits the one-char edit and rejects the rewrite") {
    val s = spark; import s.implicits._
    // doc 1 vs 2: one substitution in 40 chars -> dist 1, dup (10 <= 40)
    // doc 1 vs 3: disjoint text -> large dist, not dup
    // doc 4 vs 5: 30-char tail beyond the 256 cap is INVISIBLE to the
    //   verify - dist 0 on identical prefixes, dup
    val base = "the quick brown fox jumps over the lazy"
    val longTxt = "z" * 256
    val docs = Seq(
      (1L, base), (2L, base.replace('q', 'x')),
      (3L, "entirely different content with no overlap here"),
      (4L, longTxt + "A" * 30), (5L, longTxt + "B" * 30))
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.editVerifyFrom(cand, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(got.length == 3)
    assert(got(0) == ((1L, 2L, 1L, true)), s"one-char edit: ${got(0)}")
    assert(got(1)._3 > 4L && !got(1)._4, s"rewrite: ${got(1)}")
    assert(got(2) == ((4L, 5L, 0L, true)),
      s"capped prefixes must tie at 0: ${got(2)}")
  }

  test("semantic eval: blocked pairs are contained in the brute " +
       "truth and the recall reading is coherent") {
    val r = Similarity.ddSemanticEval(spark, sfDir).collect().head
    val (nb, nt, nh) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(r.getBoolean(3), s"blocking must never invent a pair: $r")
    assert(nh == nb && nb <= nt && nt > 0, s"containment: $r")
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r.getDouble(4) == q6(nh.toDouble / nt), s"recall: $r")
    // the blocked side must agree with dd_semantic's own verdicts:
    // every non-keep vector has at least one blocked pair naming it
    val dropped = Similarity.ddSemantic(spark, sfDir).collect()
      .filter(row => !row.getBoolean(2)).map(_.getLong(0)).toSet
    assert(dropped.nonEmpty && nb >= dropped.size,
      s"pair mass must cover the ${dropped.size} dropped vectors")
  }

  test("semantic mp: 2-probe candidates dominate the single-cell " +
       "face - verdicts only tighten and measured recall rises") {
    val home = Similarity.ddSemantic(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    val mp = Similarity.ddSemanticMp(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(mp.keySet == home.keySet, "same vector universe")
    home.foreach { case (v, (cid, keep, dupOf)) =>
      val (mcid, mkeep, mdup) = mp(v)
      assert(mcid == cid, s"home cell must not move: $v")
      if (!keep) {
        assert(!mkeep, s"a single-cell drop must survive probing: $v")
        assert(mdup <= dupOf, s"the dominating id can only shrink: $v")
      }
    }
    val r1 = Similarity.ddSemanticEval(spark, sfDir).collect().head
    val r2 = Similarity.ddSemanticMpEval(spark, sfDir).collect().head
    assert(r2.getBoolean(3), "mp containment is structural too")
    assert(r2.getDouble(4) >= r1.getDouble(4),
      s"p=2 recall ${r2.getDouble(4)} must dominate p=1 " +
        s"${r1.getDouble(4)}")
  }

  test("semantic dial: blocking WINS on a planted-cluster corpus, and " +
       "the gate corpus's probe dial saturates (corpus-inherent gap)") {
    val s = spark; import s.implicits._
    // The planted-nonuniform fixture where cell blocking SHOULD win:
    // 4 well-separated clusters (axis 2c scaled 10) of 10 vectors
    // each, with a small deterministic per-vector perturbation.
    // Within-cluster cosine > 0.99 >> eps; cross-cluster < 0.06 <<
    // eps, so truth = exactly the 4*C(10,2) = 180 within-cluster
    // pairs. PrefixInit's seeds (vec_id < 4 = one per cluster, ids
    // interleaved mod 4) put Lloyd at the cluster means, so the HOME
    // cell alone must recover every true pair: p=1 recall 1.0 —
    // demonstrating the gate corpus's low dial readings are a
    // property of its near-uniform geometry, not of the blocking.
    val dim = 8
    val e = (0 until 40).map { i =>
      val c = i % 4
      val v = Array.fill(dim)(0.0f)
      v(2 * c) = 10.0f
      v((2 * c + 1 + (i / 4) % 6) % dim) += 0.5f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainedCentroids(e, k = 4, trainN = 40L)
    val planted = Similarity.ddSemanticDialFrom(e, cents).collect()
    assert(planted.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(planted.head.getLong(2) == 180L,
      s"fixture truth must be the within-cluster pairs: ${planted.head}")
    assert(planted.head.getDouble(3) >= 0.7,
      s"p=1 must clear 0.7 on planted structure: ${planted.head}")
    // and on the near-uniform gate corpus the dial must show
    // diminishing returns: each extra probe buys LESS recall
    val corpus = Similarity.ddSemanticDial(spark, sfDir).collect()
      .map(_.getDouble(3))
    assert(corpus.length == 3 && corpus(0) < corpus(1) &&
      corpus(1) < corpus(2), s"dial must rise: ${corpus.toSeq}")
    assert(corpus(1) - corpus(0) >= corpus(2) - corpus(1),
      s"marginal recall per probe must shrink: ${corpus.toSeq}")
  }

  test("simhash eval: 7 chunks give the pigeonhole guarantee at the " +
       "family threshold 6, and the corpus scorecard is contained") {
    val s = spark; import s.implicits._
    // 7 chunks over 48 bits (6x7 + 1x6): any pair within Hamming 6
    // keeps >= 1 chunk intact, so the d=4 one-flip-per-chunk pattern
    // that defeated the r13 4x12 blocking (measured recall 0.669) is
    // now FOUND; a 7-flip pattern hitting every chunk is past the
    // threshold anyway, so the only pairs the blocking can drop are
    // pairs the verdict would reject regardless.
    val worstD6 = // 6 flips, one in each of 6 distinct chunks
      Dedup.simhashChunkSpec.take(6).map { case (sh, _) => 1L << sh }
        .reduce(_ | _)
    val sims = Seq(
      (1L, 0L), (2L, 7L),
      (4L, (1L << 0) | (1L << 12) | (1L << 24) | (1L << 36)),
      (5L, worstD6))
      .toDF("doc_id", "sim")
    val got = Dedup.simhashPairsFrom(sims).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), "distance 3 must be guaranteed")
    assert(got.contains((1L, 4L)),
      "r13's planted miss (4 flips spread across the old 12-bit " +
        "chunks) must now be found")
    assert(got.contains((1L, 5L)),
      "worst case at the threshold: 6 flips in 6 distinct chunks " +
        "still share the untouched 7th chunk")
    val r = Dedup.simhashEval(spark, sfDir).collect().head
    assert(r.getBoolean(3), s"containment is structural: $r")
    assert(r.getLong(2) == r.getLong(0) && r.getLong(1) >= r.getLong(0))
    assert(r.getDouble(4) == 1.0,
      s"pigeonhole at d<=6 makes recall exactly 1.0: $r")
    // and the candidate face IS the hit set
    assert(r.getLong(0) == Dedup.simhashPairs(spark, sfDir).count(),
      "scorecard must count the production face's own pairs")
  }

  test("emb mmd: planted orthogonal drift scores exactly ||u1-u2||^2, " +
       "identical cohorts score 0, a missing cohort has no verdict") {
    val s = spark; import s.implicits._
    def mmd(ds: Seq[(Long, Long, Long, Long)]): org.apache.spark.sql.Row =
      Similarity.mmdFromDimSums(ds.toDF("grp", "pos", "s", "n"))
        .collect().head
    // A = two copies of (1, 0), B = two copies of (0, 1):
    // mmd2 = ||(1,0) - (0,1)||^2 = 2 exactly
    val drift = mmd(Seq((0L, 0L, 2000000L, 2L), (0L, 1L, 0L, 2L),
      (1L, 0L, 0L, 2L), (1L, 1L, 2000000L, 2L)))
    assert(drift.getLong(0) == 2L && drift.getLong(2) == 2L, s"$drift")
    assert(drift.getDouble(3) == 2.0, s"planted drift: $drift")
    val same = mmd(Seq((0L, 0L, 700000L, 3L), (1L, 0L, 700000L, 3L)))
    assert(same.getDouble(3) == 0.0, s"identical cohorts: $same")
    val lone = mmd(Seq((0L, 0L, 5L, 1L)))
    assert(lone.getLong(0) == 0L && lone.isNullAt(3),
      s"missing cohort: $lone")
  }

  test("emb mmd rbf: equal-mean covariance drift is INVISIBLE to the " +
       "linear kernel (mmd2 exactly 0) and separated by the RFF RBF " +
       "face; identical cohorts score ~0") {
    val s = spark; import s.implicits._
    // A (even vec_id): 50 copies each of +u and -u with u = 0.5
    // everywhere -> mean exactly 0, covariance 0.25*J. B (odd
    // vec_id): 100 zero vectors -> mean 0, covariance 0. The drift
    // is purely in SHAPE.
    val vecs = (0 until 200).map { j =>
      val id = j.toLong
      val e =
        if (id % 2 == 1) Array.fill(Similarity.rbfDim)(0.0f)
        else if ((id / 2) % 2 == 0) Array.fill(Similarity.rbfDim)(0.5f)
        else Array.fill(Similarity.rbfDim)(-0.5f)
      (id, e)
    }.toDF("vec_id", "embedding")
    // the linear face's own map over the same fixture
    val dimSums = vecs
      .select(pmod(col("vec_id"), lit(2)).as("grp"),
        org.apache.spark.sql.functions.posexplode(col("embedding"))
          .as(Seq("pos", "v")))
      .select(col("grp"), col("pos").cast("long").as("pos"),
        org.apache.spark.sql.functions.expr(
          "CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)")
          .as("v_mu"))
      .groupBy(col("grp"), col("pos"))
      .agg(sum(col("v_mu")).as("s"), count(lit(1)).as("n"))
    val lin = Similarity.mmdFromDimSums(dimSums).collect().head
    assert(lin.getDouble(3) == 0.0,
      s"linear MMD must be blind to the equal-mean shape drift: $lin")
    val rbf = Similarity.rbfMmdFromFeatureSums(
      Similarity.rbfFeatureSums(vecs)).collect().head
    assert(rbf.getLong(0) == 100L && rbf.getLong(1) == 100L &&
      rbf.getLong(2) == Similarity.rbfFeatureCount.toLong, s"$rbf")
    assert(rbf.getDouble(3) > 0.01,
      s"RBF MMD must separate the covariance drift: $rbf")
    // no drift at all: the two cohorts are identical point masses
    val sameVecs = (0 until 100).map { j =>
      (j.toLong, Array.fill(Similarity.rbfDim)(0.25f))
    }.toDF("vec_id", "embedding")
    val sameRbf = Similarity.rbfMmdFromFeatureSums(
      Similarity.rbfFeatureSums(sameVecs)).collect().head
    assert(sameRbf.getDouble(3) == 0.0,
      s"identical cohorts must score exactly 0: $sameRbf")
  }

  test("emb energy: the 1-d fold reproduces a hand-computed energy " +
       "distance exactly; equal-mean covariance drift separates; " +
       "identical cohorts score exactly 0") {
    val s = spark; import s.implicits._
    // hand fact at dir 0 (p in 1e-4 units): A = {0, 2}, B = {1}.
    // T_XY = |0-1|+|2-1| = 2; T_XX(ordered) = 2*|0-2| = 4; T_YY = 0.
    // E2_dir = 2*2/(2*1) - 4/4 - 0 = 1.0; /8 dirs -> 0.125 exactly.
    val hand = Seq((0L, 0L, 0L, 1L), (0L, 0L, 20000L, 1L),
      (0L, 1L, 10000L, 1L)).toDF("dir", "grp", "p", "c")
    val h = Similarity.energyFromProjCounts(hand).collect().head
    assert(h.getLong(0) == 2L && h.getLong(1) == 1L, s"$h")
    assert(h.getDouble(3) == 0.125, s"hand energy: $h")
    // the RBF test's covariance fixture: means equal, shapes differ -
    // every 1-d projection of A is the symmetric pair {+w*u, -w*u}
    // while B projects to a point mass at 0, so the sliced statistic
    // must separate what linear MMD scored 0 on
    val vecs = (0 until 200).map { j =>
      val id = j.toLong
      val e =
        if (id % 2 == 1) Array.fill(Similarity.rbfDim)(0.0f)
        else if ((id / 2) % 2 == 0) Array.fill(Similarity.rbfDim)(0.5f)
        else Array.fill(Similarity.rbfDim)(-0.5f)
      (id, e)
    }.toDF("vec_id", "embedding")
    val drift = Similarity.energyFromProjCounts(
      Similarity.energyProjCounts(vecs)).collect().head
    assert(drift.getLong(0) == 100L && drift.getLong(1) == 100L &&
      drift.getLong(2) == Similarity.energyDirCount.toLong, s"$drift")
    assert(drift.getDouble(3) > 0.01,
      s"sliced energy must separate the covariance drift: $drift")
    // identical cohorts: all projection multisets equal -> E2 is an
    // exact integer 0 before the double chain ever runs
    val sameVecs = (0 until 100).map { j =>
      (j.toLong, Array.fill(Similarity.rbfDim)(0.25f))
    }.toDF("vec_id", "embedding")
    val same = Similarity.energyFromProjCounts(
      Similarity.energyProjCounts(sameVecs)).collect().head
    assert(same.getDouble(3) == 0.0,
      s"identical cohorts must score exactly 0: $same")
  }

  test("simhash scheme/chunk knobs: flip1 and chunk7 emit the SAME " +
       "pairs, chunk7 at k=4 reproduces the r13 recall floor, junk " +
       "throws, the default keeps the guarantee") {
    val s = spark; import s.implicits._
    val sims = Seq(
      (1L, 0L),
      (4L, (1L << 0) | (1L << 12) | (1L << 24) | (1L << 36)))
      .toDF("doc_id", "sim")
    try {
      // the two schemes are one semantic spec: identical output on
      // the gate corpus (plan choice, not a semantics choice)
      val flip = Dedup.simhashFlipPairsFrom(
        SignatureStore.shingles(spark, sfDir)
          .select(col("doc_id"),
            org.apache.spark.sql.functions.expr("graft_simhash48(hst)")
              .as("sim"))).collect().map(_.toString).toSeq
      val chunk = Dedup.simhashChunkPairsFrom(
        SignatureStore.shingles(spark, sfDir)
          .select(col("doc_id"),
            org.apache.spark.sql.functions.expr("graft_simhash48(hst)")
              .as("sim"))).collect().map(_.toString).toSeq
      assert(flip == chunk, "schemes must agree row for row")
      spark.conf.set("graft.dedup.simhashScheme", "chunk7")
      spark.conf.set("graft.dedup.simhashChunks", "4")
      val got4 = Dedup.simhashPairsFrom(sims).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!got4.contains((1L, 4L)),
        "at chunk7/k=4 the one-flip-per-12-bit-chunk pattern must be " +
          "missed again - the documented price of the smaller volume")
      spark.conf.set("graft.dedup.simhashChunks", "junk")
      intercept[IllegalArgumentException] {
        Dedup.simhashPairsFrom(sims).collect()
      }
      spark.conf.set("graft.dedup.simhashChunks", "0")
      intercept[IllegalArgumentException] {
        Dedup.simhashPairsFrom(sims).collect()
      }
      spark.conf.unset("graft.dedup.simhashChunks")
      spark.conf.set("graft.dedup.simhashScheme", "junk")
      intercept[IllegalArgumentException] {
        Dedup.simhashPairsFrom(sims).collect()
      }
    } finally {
      spark.conf.unset("graft.dedup.simhashChunks")
      spark.conf.unset("graft.dedup.simhashScheme")
    }
    val got = Dedup.simhashPairsFrom(sims).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 4L)),
      "the routed default finds the planted d=4 pattern (either " +
        "physical scheme carries the full pigeonhole guarantee)")
  }

  test("dedup keep-best: exactly one keeper per cluster, the keeper is " +
       "the (nll, doc_id) argmin, and the kept-corpus size matches the " +
       "id-canonical variant") {
    val cl = Dedup.dupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    val nll = TextAnalysis.unigramNll(spark, sfDir)
      .select(col("doc_id"), col("nll"))
    val kept = Dedup.dedupKeepBest(spark, sfDir).select(col("doc_id"))
    val perCluster = cl.join(kept, "doc_id")
      .groupBy(col("cluster_id")).count().collect()
    assert(perCluster.nonEmpty && perCluster.forall(_.getLong(1) == 1L),
      s"every cluster keeps exactly one member: ${perCluster.toSeq}")
    val argmin = cl.join(nll, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(min(struct(col("nll"), col("doc_id"))).as("best"))
      .select(col("cluster_id"), col("best.doc_id").as("keep_id"))
    val wrong = cl.join(kept, "doc_id").join(argmin, "cluster_id")
      .filter(col("doc_id") =!= col("keep_id")).count()
    assert(wrong == 0L, "the keeper must be the quality argmin")
    // same clusters -> same number of removals as the id-canonical
    // variant, but (on this corpus) different keepers somewhere
    val applyIds = Dedup.dedupApply(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val bestIds = Dedup.dedupKeepBest(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(applyIds.size == bestIds.size, "one keeper per cluster both ways")
    assert(applyIds != bestIds,
      "quality must actually move at least one keeper on this corpus")
  }

  test("simhash route boundary: the budget predicate is pinned on " +
       "both sides, and the routed plan's output equals both static " +
       "schemes' on either side of it") {
    val s = spark; import s.implicits._
    // BELOW the budget: a sparse corpus - per-doc volume gap ~0, the
    // router keeps chunk7's smaller footprint
    val sparse = (1L to 50L).map(i => (i, i << 13)).toDF("doc_id", "sim")
    val (nS, vcS, vfS) = Dedup.simhashRouteStatsFor(sparse)
    assert(nS == 50L)
    assert(Dedup.simhashRouteOf(nS, vcS, vfS) == "chunk7",
      s"sparse corpus must stay chunk7: gap=${vcS - vfS} n=$nS")
    // ABOVE the budget: 1000 docs sharing ONE signature - every
    // scheme's buckets clump, v_chunk = 7*C(n,2), v_flip = 4*C(n,2),
    // gap/doc = 1.5*(n-1) ~ 1499 > 1000 - the router takes flip1
    val clumped = (1L to 1000L).map(i => (i, 0L)).toDF("doc_id", "sim")
    val (nC, vcC, vfC) = Dedup.simhashRouteStatsFor(clumped)
    assert(nC == 1000L && vcC == BigInt(7) * 499500 &&
      vfC == BigInt(4) * 499500,
      s"clumped volumes must be exact: n=$nC v_chunk=$vcC v_flip=$vfC")
    assert(Dedup.simhashRouteOf(nC, vcC, vfC) == "flip1",
      s"clumped corpus must route flip1: gap=${vcC - vfC} n=$nC")
    // output parity across the route on the gate corpus: routed ==
    // chunk7 == flip1 row for row (the scheme-parity guarantee the
    // router relies on to be a pure plan choice)
    def pairsUnder(scheme: String): Seq[String] = {
      spark.conf.set("graft.dedup.simhashScheme", scheme)
      try Dedup.simhashPairs(spark, sfDir).collect().map(_.toString).toSeq
      finally spark.conf.unset("graft.dedup.simhashScheme")
    }
    val routed = pairsUnder("routed")
    assert(routed == pairsUnder("chunk7") && routed == pairsUnder("flip1"),
      "routed output must equal both static schemes row for row")
  }

  test("cluster stats: histogram re-aggregates the clusters relation " +
       "exactly; removable == the non-canonical count") {
    val cl = Dedup.dupClusters(spark, sfDir).collect()
    val bySize = cl.groupBy(_.getLong(1)).values.map(_.length.toLong)
      .groupBy(identity).map { case (s, g) => s -> g.size.toLong }
    val got = Dedup.clusterStats(spark, sfDir).collect()
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap == bySize,
      "histogram must match the clusters relation")
    assert(got.map(_.getLong(2)).sum == cl.length,
      "docs-in must cover every clustered doc")
    assert(got.map(_.getLong(3)).sum ==
      cl.count(r => !r.getBoolean(2)),
      "removable must equal the non-canonical count")
  }

  test("lsh eval: n_hit equals the verify face's row count (three " +
       "faces agree), ratios recompute, and the hit count is bounded " +
       "by both sides") {
    val r = Dedup.lshEval(spark, sfDir).collect().head
    val (nCand, nTrue, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nHit <= math.min(nCand, nTrue))
    // cand ∩ truth IS the verify face's output relation by definition -
    // the eval cross-checks minhashLsh, jaccardPrefix AND ngramJaccard
    // against each other in one identity
    assert(nHit == Dedup.ngramJaccard(spark, sfDir).count(),
      "eval hits must equal the verified-candidate relation")
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r.getDouble(3) == q6(nHit.toDouble / nCand) &&
      r.getDouble(4) == q6(nHit.toDouble / nTrue))
  }

  test("lsh curve: the production (8,4) row IS dd_lsh_eval's row; " +
       "truth is config-independent; every config's hits are bounded") {
    val rows = Dedup.lshCurve(spark, sfDir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Dedup.lshCurveConfigs.map { case (b, r) => (b.toLong, r.toLong) }
        .sortBy(_._1))
    assert(rows.map(_.getLong(3)).distinct.length == 1,
      "the exact truth cannot depend on the banding")
    rows.foreach(r => assert(r.getLong(4) <=
      math.min(r.getLong(2), r.getLong(3))))
    val ev = Dedup.lshEval(spark, sfDir).collect().head
    val prod = rows.find(r => r.getLong(0) == Dedup.numBands.toLong).get
    assert((prod.getLong(2), prod.getLong(3), prod.getLong(4)) ==
      ((ev.getLong(0), ev.getLong(1), ev.getLong(2))),
      "the swept production config must reproduce the eval face")
  }

  test("jaccard values are in (0.8, 1.0]") {
    val js = Dedup.ngramJaccard(spark, sfDir).collect().map(_.getDouble(2))
    assert(js.forall(j => j >= 0.8 && j <= 1.0))
  }

  test("LSH recall: every true Jaccard>=0.9 pair is an LSH candidate") {
    import org.apache.spark.sql.functions._
    // ground truth: brute-force all-pairs Jaccard over hashed shingles
    val docs = graft.core.Graft.table(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr(
        """array_distinct(transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
          |                 element_at(toks, i + 2))))""".stripMargin))
      .withColumn("hs", expr("transform(sh, s -> graft_md5_48(s))"))
      .select(col("doc_id"), col("hs"))
    val truth = docs.as("x").crossJoin(docs.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .withColumn("inter", size(array_intersect(col("x.hs"), col("y.hs"))))
      .withColumn("j", col("inter").cast("double") /
        (size(col("x.hs")) + size(col("y.hs")) - col("inter")).cast("double"))
      .filter(col("j") >= 0.9)
      .select(col("x.doc_id"), col("y.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "expected planted >=0.9 Jaccard pairs")
    assert(truth.subsetOf(cand),
      s"LSH missed ${truth.diff(cand).size} of ${truth.size} true pairs")
  }

  test("dup clusters: labels are transitive-closed, canonical is min") {
    val pairs = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.dupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters.nonEmpty)
    // every pair's two docs share a cluster id
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) split")
    }
    // cluster id is the component minimum; exactly one canonical each
    clusters.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
      assert(members.values.count(_._2) == 1)
      assert(members(cid)._2, "the min-id member is the canonical one")
    }
  }

  // shared brute-force ground truth: hashed shingle sets for every
  // >=3-token doc, same kernel the operators use
  private def bruteShingles = {
    import org.apache.spark.sql.functions._
    graft.core.Graft.table(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .filter(size(col("toks")) >= 3)
      .withColumn("hs", expr("graft_gram_hashes(toks, 3)"))
      .select(col("doc_id"), col("hs"))
  }

  test("prefix-filter jaccard join is EXACT: equals brute-force all-pairs") {
    val docs = bruteShingles
    val truth = docs.as("x").crossJoin(docs.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .withColumn("inter", size(array_intersect(col("x.hs"), col("y.hs"))))
      .withColumn("j", ParityMath.q6(col("inter").cast("double") /
        (size(col("x.hs")) + size(col("y.hs")) - col("inter")).cast("double")))
      .filter(col("j") >= Dedup.jaccardThreshold)
      .select(col("x.doc_id"), col("y.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.jaccardPrefix(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "expected planted >=0.8 Jaccard pairs")
    assert(got == truth,
      s"missed ${truth.diff(got).size}, spurious ${got.diff(truth).size}")
  }

  test("positional filter prunes length-admitted candidates, loses none") {
    import spark.implicits._
    // Planted so the ONLY shared-prefix match of (a, b) sits at ranks
    // (3, 1) with sizes (18, 22): the probe side's 8/9-prefix is
    // 18 - ceil(8*18/9) + 1 = 3, so the match sits exactly on the
    // inclusive probe boundary and the asymmetric prefixes admit it;
    // the length filter (5*18 >= 4*22) admits it; the positional
    // bound min(3,1) + min(18-3, 22-1) = 16 < ceil(4*40/9) = 18
    // prunes it. True Jaccard is 1/39, so pruning changes nothing in
    // the verified output. Doc c exists only to give every planted
    // token document frequency 2 (df asc, h asc is the global prefix
    // order).
    val a = (Seq(1L, 2L, 1000L) ++ (2000L until 2015L)).toArray
    val b = (Seq(1000L) ++ (3000L until 3021L)).toArray
    val c = (Seq(1L, 2L) ++ (2000L until 2015L) ++
      (3000L until 3021L)).toArray
    val sh = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "hs")
    val without = Dedup.jaccardPrefixCandidates(sh, positional = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withPos = Dedup.jaccardPrefixCandidates(sh, positional = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(without == Set((1L, 2L)),
      s"length filter should admit exactly the planted pair, got $without")
    assert(withPos.isEmpty,
      s"positional filter should prune the planted pair, got $withPos")
    // and on the real corpus the filtered candidates stay a superset
    // of the verified pairs (exactness itself is pinned by the
    // brute-force test above)
    val realCands = Dedup.jaccardPrefixCandidates(
      bruteShingles, positional = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.jaccardPrefix(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(realCands))
  }

  test("containment join is EXACT and catches subset docs jaccard misses") {
    val docs = bruteShingles
    val truth = docs.as("x").crossJoin(docs.as("y"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .withColumn("inter", size(array_intersect(col("x.hs"), col("y.hs"))))
      .withColumn("c", ParityMath.q6(
        col("inter").cast("double") / size(col("x.hs")).cast("double")))
      .filter(col("c") * Dedup.containmentDen >= Dedup.containmentNum)
      .select(col("x.doc_id"), col("y.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Dedup.containment(spark, sfDir).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "expected containment pairs on the fixture")
    assert(got == truth,
      s"missed ${truth.diff(got).size}, spurious ${got.diff(truth).size}")
    // directional semantics: every (a,b) read is "a >=90% inside b";
    // values are per-direction (C(a,b) and C(b,a) differ when sizes do)
    assert(rows.map(_.getDouble(2)).forall(c => c >= 0.899999 && c <= 1.0))
  }

  test("component resolution: path halving converges in O(log d) rounds") {
    // a chain 0-1, 1-2, ..., (n-2)-(n-1) has diameter d = n - 1: plain
    // min-label propagation needs d rounds to walk label 0 to the far
    // end, which is exactly the shape templated boilerplate produces
    // (A~B~C~... with no A~C edge). With the pointer-jump step over
    // every node the distance a label has travelled obeys
    // d_k >= 2 d_(k-1) + 2, so the loop, counting its final round with
    // no change, ends within ceil(log2 d) + 1 rounds. Edge direction
    // must not matter: both orientations of each chain are checked.
    val s = spark; import s.implicits._
    // bound = ceil(log2(n - 1)) + 1
    for ((n, bound) <- Seq(65L -> 7, 1000L -> 11);
         reversed <- Seq(false, true)) {
      val hops = (0L until n - 1)
        .map(i => if (reversed) (i + 1, i) else (i, i + 1))
      val (out, rounds) =
        Dedup.resolveComponents(spark, hops.toDF("doc_a", "doc_b"))
      val rows = out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val shape = s"$n-node chain${if (reversed) " (reversed)" else ""}"
      assert(rows.map(_._1).toSeq == (0L until n),
        s"$shape: one row per node, by doc_id")
      assert(rows.forall(_._2 == 0L),
        s"$shape: all members label to the min id")
      assert(rows.count(_._3) == 1 && rows.find(_._3).get._1 == 0L)
      assert(rounds <= bound,
        s"$shape: path halving must end within ceil(log2 ${n - 1}) + 1 = " +
          s"$bound rounds, took $rounds")
    }
  }

  test("component resolution runs one job per round, the same count " +
       "every run") {
    // a round's only action is its count of changed labels; the output
    // takes two more (the range sort's sample, the sorted checkpoint).
    // The 1000-chain's 10 rounds would show a second job per round; the
    // verified tier is the dupClusters input
    val s = spark; import s.implicits._
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val verified = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    verified.count()
    for ((name, edges) <- Seq("1000-chain" -> chain, "verified" -> verified)) {
      val runs = (1 to 2).map { _ =>
        var rounds = 0
        val n = jobs {
          val (out, r) = Dedup.resolveComponents(spark, edges)
          rounds = r
          org.apache.spark.sql.GraftBridge.unpersistMaterialized(out)
        }
        (n, rounds)
      }
      val (n, rounds) = runs.head
      assert(n == rounds + 2,
        s"$name: $n jobs for $rounds rounds, want one per round plus 2 " +
          "for the output")
      assert(runs(1) == runs.head, s"$name: (jobs, rounds) moved: $runs")
    }
  }

  /** Jobs `f` starts, counted by a listener after a bus drain. */
  private def jobs(f: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.ListenerDrain(sc); started.get }
    finally sc.removeSparkListener(l)
  }

  test("simhash: near-dup pairs have small hamming distance") {
    val r = Dedup.simhashPairs(spark, sfDir).collect()
    assert(r.forall(_.getLong(2) <= Dedup.hammingThreshold))
  }

  test("ann: lsh-bucketed results are a subset of brute-force corpus") {
    val brute = Similarity.annTopKBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.annLshBucketed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // both nonempty; bucketing can only drop candidates, and top-1 of a
    // bucket containing the true top-1 must agree
    assert(brute.nonEmpty && lsh.nonEmpty)
  }

  test("ann brute force matches a driver-side recompute on one query") {
    val s = spark; import s.implicits._
    val emb = graft.core.Graft.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val q = emb(0L).map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = emb.filter(_._1 != 0L)
      .map { case (id, v) =>
        (id, BigDecimal(cos(q, v.map(_.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val got = Similarity.annTopKBrute(spark, sfDir)
      .filter(col("q_id") === 0L).orderBy(col("rk"))
      .collect().map(_.getLong(1)).toSeq
    assert(got == expected)
  }

  test("embed-cosine blocking is bounded on a skewed-label dataset") {
    // one hot label over 512 deterministic vectors: bare-label blocking
    // would make a single 512-row block (O(n²) pairs); the (label,
    // bucket) key must split it into many small cells
    val hot = spark.range(512)
      .select(col("id").as("vec_id"), lit(1L).as("label"),
        expr("transform(sequence(0, 63), i -> CAST(sin((id + 1) * (i + 1) * 997.0) AS FLOAT))")
          .as("embedding"))
    val blocks = hot
      .withColumn("bucket", expr(Similarity.bucketSpark("embedding")))
      .groupBy(col("label"), col("bucket")).count()
      .agg(max(col("count")).as("mx"), count(lit(1)).as("cells"))
      .collect().head
    assert(blocks.getLong(1) > 50, "expected the hot label to split across many buckets")
    assert(blocks.getLong(0) <= 32,
      s"max block ${blocks.getLong(0)} not bounded - blocking key ineffective")
  }

  test("ivf: probing fewer lists than brute force still finds neighbors") {
    val ivf = Similarity.annIvf(spark, sfDir)
    val counts = ivf.groupBy(col("q_id")).count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) <= 10))
  }

  test("pinned recall@10 floors: ANN quality cannot silently degrade") {
    // measured on the seeded corpus (deterministic data, centroids and
    // hyperplanes): IVF with 2 Lloyd rounds + 6/16 probes = 0.95
    // (trained centroids beat the raw seeded pick, 0.9125, at the same
    // probe count), single-probe LSH = 0.0125 (500 vectors over 2^8
    // buckets leaves ~2 per bucket - the LSH floor guards against
    // total breakage like a corrupted plane matrix, the IVF floor
    // against real quality regressions when centroid/probe/training
    // constants change)
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topk(Similarity.annTopKBrute(spark, sfDir)
      .select("q_id", "vec_id"))
    def recall(got: Map[Long, Set[Long]]): Double =
      brute.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / brute.size
    val ivfR = recall(topk(Similarity.annIvf(spark, sfDir)
      .select("q_id", "vec_id")))
    val lshR = recall(topk(Similarity.annLshBucketed(spark, sfDir)
      .select("q_id", "vec_id")))
    assert(ivfR >= 0.90, f"IVF recall@10 $ivfR%.3f fell below 0.90")
    assert(lshR >= 0.01, f"LSH recall@10 $lshR%.4f fell below 0.01")
    // int8 quantization perturbs each coordinate by <= 1/254 of the
    // vector's max - neighbor sets should be nearly exact
    val quantR = recall(topk(Similarity.annTopKQuant(spark, sfDir)
      .select("q_id", "vec_id")))
    assert(quantR >= 0.95,
      f"quantized recall@10 $quantR%.3f fell below 0.95")
    // quantized IVF compounds both error sources; it must stay within
    // a whisker of the float IVF path
    val ivfQuantR = recall(topk(Similarity.annIvfQuant(spark, sfDir)
      .select("q_id", "vec_id")))
    assert(ivfQuantR >= 0.90,
      f"quantized-IVF recall@10 $ivfQuantR%.3f fell below 0.90")
    // IVF-PQ reads 32x smaller codes in the probe scan and refines an
    // 8xtopK ADC shortlist exactly; measured 0.90 (sf0.001) / 0.875
    // (sf0.01) vs the float IVF path's 0.95/0.9125 - the shortlist
    // size is the recall knob, and the floor guards the composition
    val pqR = recall(topk(Similarity.annIvfPq(spark, sfDir)
      .select("q_id", "vec_id")))
    assert(pqR >= 0.85, f"IVF-PQ recall@10 $pqR%.3f fell below 0.85")
    // adaptive probing targets the same EXPECTED mass as the fixed
    // 6/16 face (3/8 of the corpus), so its recall must hold the same
    // floor - it redistributes the scan budget across queries, it
    // doesn't shrink it
    val adaptiveR = recall(topk(Similarity.annIvfAdaptive(spark, sfDir)
      .select("q_id", "vec_id")))
    assert(adaptiveR >= 0.90,
      f"adaptive-IVF recall@10 $adaptiveR%.3f fell below 0.90")
  }


  test("semantic dedup: dominance rule holds against brute-force truth") {
    val verdicts = Similarity.ddSemantic(spark, sfDir).collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getBoolean(2),
         if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
    assert(verdicts.size == 500)
    // reconstruct the within-cell truth with the library's own
    // primitives evaluated independently (HOF cosine, not the native
    // expression under test)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cells = e.collect()
      .map(r => r.getLong(0) -> verdicts(r.getLong(0))._1)
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val vecs = e.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def sim(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      var (d, nx, ny) = (0.0, 0.0, 0.0)
      for (i <- x.indices) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      math.floor(d / (math.sqrt(nx) * math.sqrt(ny)) * 1e6 + 0.5) / 1e6
    }
    var dropped = 0
    for ((cid, members) <- cells; v <- members) {
      val smallerDups = members.filter(u => u < v &&
        sim(u, v) >= Similarity.semanticEps)
      val (_, keep, dupOf) = verdicts(v)
      assert(keep == smallerDups.isEmpty,
        s"vec $v in cell $cid: keep=$keep but smaller dups=$smallerDups")
      assert(dupOf == smallerDups.minOption,
        s"vec $v: dup_of=$dupOf expected ${smallerDups.minOption}")
      if (!keep) dropped += 1
    }
    // the fixture must actually exercise the drop path
    assert(dropped > 0, "no semantic duplicates found - threshold dead")
  }

  test("semantic clusters: closure consistent with the dominance verdicts") {
    val verdicts = Similarity.ddSemantic(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val clusters = Similarity.ddSemanticClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(clusters.nonEmpty, "fixture must produce semantic clusters")
    // canonical = min of its cluster
    val byCluster = clusters.groupBy(_._2)
    for ((cid, ms) <- byCluster) {
      assert(ms.map(_._1).min == cid, s"cluster id must be its min: $cid")
      assert(ms.count(_._3) == 1 && ms.find(_._3).get._1 == cid)
    }
    // a dominance-dropped vector has a smaller same-cell neighbor, so
    // it shares that neighbor's component and cannot be the min there:
    // dropped implies clustered non-canonical (closure only MERGES
    // further via chains, never splits)
    for ((v, keep) <- verdicts if !keep) {
      val c = clusters.find(_._1 == v)
      assert(c.exists(!_._3),
        s"dominance-dropped $v must be a non-canonical cluster member")
    }
  }

  test("k-means|| init: opt-in via conf, deterministic, and its recall " +
       "floor holds") {
    graft.core.Memo.release(spark, sfDir)
    try {
      // the conf knob selects the init; the explicit-init face and the
      // conf-driven path must train the identical matrix
      spark.conf.set("graft.similarity.init", "kmeanspar")
      val viaConf = Similarity.trainedCentroidsFor(spark, sfDir)
      spark.conf.unset("graft.similarity.init")
      val viaFace = Similarity.trainedCentroidsFor(spark, sfDir,
        Similarity.KppInit)
      assert(viaConf == viaFace, "conf knob must reach the init choice")
      // and differ from the default prefix-seeded matrix
      assert(viaFace != Similarity.trainedCentroidsFor(spark, sfDir))
      spark.conf.set("graft.similarity.init", "nonsense")
      intercept[IllegalArgumentException] {
        Similarity.trainedCentroidsFor(spark, sfDir)
      }
      spark.conf.unset("graft.similarity.init")
      // breakage floor for the opt-in face (measured 0.69 on this
      // fixture vs 0.95 for the default prefix init at equal probes -
      // the A/B that keeps kpp non-default; see PLANS.md round 7)
      def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val brute = topk(Similarity.annTopKBrute(spark, sfDir)
        .select("q_id", "vec_id"))
      val kppTop = topk(Similarity.annIvfKpp(spark, sfDir)
        .select("q_id", "vec_id"))
      val kppR = brute.map { case (q, t) =>
        kppTop.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / brute.size
      assert(kppR >= 0.60, f"kpp-IVF recall@10 $kppR%.3f fell below 0.60")
    } finally {
      spark.conf.unset("graft.similarity.init")
      graft.core.Memo.release(spark, sfDir)
    }
  }

  test("dedup router: fixed-vocab corpus routes to LSH, natural-entropy " +
       "corpus routes exact; routed output equals the chosen face") {
    def land(docs: org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_route").toString
      val tmp = s"$dir/_gen"
      docs.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, "documents.parquet"))
      dir
    }
    // the bench generator's fixed vocab: the shingle vocabulary
    // saturates, so prefix-bucket candidate volume grows quadratically
    // with docs (measured vol/doc 0.05 → 4.8 → quadratic at 300 →
    // 2000 → 50k; 2500 here clears the budget-4 threshold with margin)
    val fixedDir = land(spark.read.format("graft-docs")
      .option("rows", "2500").load())
    // ~5800 distinct tokens: rare prefixes, the exact join's home turf
    val heapsDir = land(
      graft.probe.CorpusScaleSmoke.syntheticDocs(spark, 300L)
        .withColumn("lang", lit("en")).withColumn("source", lit("syn"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    def sh(dir: String) = SignatureStore.shingles(spark, dir)
      .select(col("doc_id"), col("hs"))
    assert(Dedup.lshRouteFor(sh(fixedDir)),
      "fixed-vocab corpus must route to LSH")
    assert(!Dedup.lshRouteFor(sh(heapsDir)),
      "natural-entropy corpus must route to the exact prefix join")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(Dedup.jaccardRouted(spark, fixedDir)) ==
      rows(Dedup.ngramJaccard(spark, fixedDir)))
    assert(rows(Dedup.jaccardRouted(spark, heapsDir)) ==
      rows(Dedup.jaccardPrefix(spark, heapsDir)))
  }

  test("cellsFor: ⌈√n⌉ policy with the √n-grown trainN default - the " +
       "clamp never binds, so k tracks ⌈√n⌉ at every n") {
    assert(Similarity.cellsFor(100) == Similarity.ivfCentroids)
    assert(Similarity.cellsFor(500) == 23)
    assert(Similarity.cellsFor(20000) == 142)
    // r12's clamp bound here (k stuck at 384 = Θ(n²/384) scoring);
    // the r13 default grows trainN with √n so k = ⌈√n⌉ continues
    assert(Similarity.trainNFor(1000000) == 1000L)
    assert(Similarity.cellsFor(1000000) == 1000)
    // below annTrainN² the grown bound IS the r12 constant - every
    // gate corpus sits here, bit-identical behavior
    assert(Similarity.trainNFor(500) == Similarity.annTrainN)
    assert(Similarity.trainNFor(147456) == Similarity.annTrainN)
    assert(Similarity.trainNFor(147457) == Similarity.annTrainN + 1)
  }

  test("assignment auto-route: flat at gate-scale k, h2 past the " +
       "k > annTrainN crossover, conf pins either outright") {
    try {
      // auto (conf unset): the crossover is exactly where the old
      // clamp would have bound
      assert(!Similarity.h2AssignOf(spark, 384))
      assert(Similarity.h2AssignOf(spark, 385))
      // gate corpus k (23 at n=500) stays flat - oracle-replayed
      assert(!Similarity.h2AssignOf(spark, 23))
      spark.conf.set("graft.similarity.assign", "flat")
      assert(!Similarity.h2AssignOf(spark, 100000))
      spark.conf.set("graft.similarity.assign", "h2")
      assert(Similarity.h2AssignOf(spark, 16))
      spark.conf.set("graft.similarity.assign", "junk")
      intercept[IllegalArgumentException] {
        Similarity.h2AssignOf(spark, 16)
      }
    } finally spark.conf.unset("graft.similarity.assign")
  }

  test("graft.similarity.cells: the conf knob reaches centroid training " +
       "and retuning never reads a stale matrix") {
    graft.core.Memo.release(spark, sfDir)
    try {
      // conf unset -> the scale-aware default the oracle replays
      val kDefault = Similarity.cellsFor(
        Similarity.vecCountFor(spark, sfDir))
      assert(Similarity.trainedCentroidsFor(spark, sfDir).size == kDefault)
      spark.conf.set("graft.similarity.cells", "4")
      assert(Similarity.trainedCentroidsFor(spark, sfDir).size == 4)
      // back to default: the k=4 memo entry must not shadow it
      spark.conf.unset("graft.similarity.cells")
      assert(Similarity.trainedCentroidsFor(spark, sfDir).size == kDefault)
      spark.conf.set("graft.similarity.cells", "not-a-number")
      intercept[IllegalArgumentException] {
        Similarity.trainedCentroidsFor(spark, sfDir)
      }
    } finally {
      spark.conf.unset("graft.similarity.cells")
      graft.core.Memo.release(spark, sfDir)
    }
  }

  test("embedding-outlier pruning drops exactly the bottom decile " +
       "under (centroid affinity, vec_id)") {
    val r = Similarity.pipeEmbedPrune(spark, sfDir).collect()
    val n = r.length
    assert(n > 0)
    val cut = math.floor(Similarity.embedPruneFrac * n).toInt
    val pruned = r.filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(pruned.size == cut, s"expected $cut pruned, got ${pruned.size}")
    // rank-based cut: the pruned set IS the bottom slice of the total
    // order, never a value-threshold approximation of it
    val bottom = r.sortBy(row => (row.getDouble(2), row.getLong(0)))
      .take(cut).map(_.getLong(0)).toSet
    assert(pruned == bottom)
    // every vector appears exactly once with its assignment intact
    assert(r.map(_.getLong(0)).distinct.length == n)
  }

  test("ann_range: every returned pair clears the bar exactly and " +
       "recall vs the brute range truth is sane") {
    val got = Similarity.annRange(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._3 >= Similarity.rangeSimThreshold))
    // brute truth: exact q6 cosine filter over the full corpus
    val e = graft.core.Graft.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < Similarity.numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val truth = q.crossJoin(e).filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", graft.pipeline.ParityMath.q6(
        expr(Similarity.cosSpark("q_emb", "embedding"))))
      .filter(col("sim") >= Similarity.rangeSimThreshold)
      .select(col("q_id"), col("vec_id"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.toSet.subsetOf(truth), "range hits must be true hits")
    assert(got.size.toDouble / truth.size >= 0.5,
      s"range recall ${got.size}/${truth.size} collapsed")
  }

  test("ann_range_h2: leader groups partition the cells, the two-level " +
       "assignment is shuffle-free and agrees with flat argmax on most " +
       "rows, and the range face keeps recall vs the brute truth") {
    val cents = Similarity.trainedCentroidsFor(spark, sfDir)
    val k = cents.size
    val g = Similarity.coarseFor(k)
    val members = Similarity.h2Members(cents)
    // groups partition {0..k-1}; every leader parents itself
    assert(members.size == g)
    assert(members.flatten.sorted == (0 until k).toList)
    (0 until g).foreach(j => assert(members(j).contains(j),
      s"leader $j must parent itself"))
    // the assignment is one codegen'd scan - no exchange anywhere
    val e = graft.core.Graft.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val assignH2 = Similarity.ivfAssignH2(e, cents)
    assert(!assignH2.queryExecution.executedPlan.toString
      .contains("Exchange"), "two-level assignment must not shuffle")
    // assignment agreement with flat argmax is a DIAGNOSTIC, not the
    // quality gate: the fixture's trained centroids are near-orthogonal
    // (pairwise csim mean ≈ -0.03, max 0.23 - H2Probe), so coarse
    // routing among them is noisy by construction and ~half the rows
    // land one cell off flat. End-to-end range recall is what matters
    // (query-side probing recovers misrouted rows - the multi-probe
    // property), and it is pinned hard below. The floor here only
    // catches a BROKEN coarse stage (random routing would sit near
    // the 2/g probed-mass line, ≈ 0.3 at the fixture's g = 5).
    val flat = Similarity.ivfAssign(e)
      .select(col("vec_id"), col("cid").as("fcid"))
    val agree = assignH2.join(flat, "vec_id")
      .select(avg(when(col("cid") === col("fcid"), 1.0).otherwise(0.0)))
      .collect().head.getDouble(0)
    assert(agree >= 0.40, f"h2/flat assignment agreement $agree%.3f " +
      "collapsed - the coarse level is misrouting")
    // range face: still exact-above-bar, and recall vs the brute truth
    // holds a HIGH floor (measured 0.966 at the fixture; flat = 1.0)
    val got = Similarity.annRangeH2(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._3 >= Similarity.rangeSimThreshold))
    val q = e.filter(col("vec_id") < Similarity.numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val truth = q.crossJoin(e).filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", graft.pipeline.ParityMath.q6(
        expr(Similarity.cosSpark("q_emb", "embedding"))))
      .filter(col("sim") >= Similarity.rangeSimThreshold)
      .select(col("q_id"), col("vec_id"), col("sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.toSet.subsetOf(truth), "h2 range hits must be true hits")
    assert(got.size.toDouble / truth.size >= 0.85,
      s"h2 range recall ${got.size}/${truth.size} collapsed")
  }

  test("trainN conf: graft.similarity.trainN lifts the cell ceiling " +
       "and the Lloyd sample bound together; default unchanged; junk " +
       "throws") {
    // the policy math: the ceiling moves with the bound
    assert(Similarity.cellsFor(1000000, Similarity.annTrainN) ==
      Similarity.annTrainN.toInt)
    assert(Similarity.cellsFor(1000000, 2048) == 1000)
    assert(Similarity.cellsFor(1000000, 600) == 600)
    val defCents = Similarity.trainedCentroidsFor(spark, sfDir)
    try {
      // the fixture has 500 vectors; k = ceil(sqrt(500)) = 23 is under
      // both bounds, but the SAMPLE bound changes: default trains on
      // vec_id < 384, conf'd on the whole 500 - different centroids
      spark.conf.set("graft.similarity.trainN", "500")
      val lifted = Similarity.trainedCentroidsFor(spark, sfDir)
      assert(lifted.size == defCents.size)
      assert(lifted != defCents,
        "a lifted sample bound must reach the Lloyd rounds")
      spark.conf.set("graft.similarity.trainN", "3")
      intercept[IllegalArgumentException] {
        Similarity.trainedCentroidsFor(spark, sfDir)
      }
    } finally spark.conf.unset("graft.similarity.trainN")
    assert(Similarity.trainedCentroidsFor(spark, sfDir) == defCents,
      "unset conf must restore the default (memoized) matrix")
  }

  test("assign posture conf: graft.similarity.assign=h2 routes the " +
       "whole IVF family through the two-level kernel (face-identical " +
       "results), default stays flat, junk values throw") {
    val flatRange = Similarity.annRange(spark, sfDir).collect()
      .map(_.toString).toSeq
    val h2Range = Similarity.annRangeH2(spark, sfDir).collect()
      .map(_.toString).toSeq
    val h2Knn = Similarity.annKnnJoinH2(spark, sfDir).collect()
      .map(_.toString).toSeq
    try {
      spark.conf.set("graft.similarity.assign", "h2")
      assert(Similarity.annRange(spark, sfDir).collect()
        .map(_.toString).toSeq == h2Range,
        "conf'd ann_range must BE the h2 face")
      assert(Similarity.annKnnJoin(spark, sfDir).collect()
        .map(_.toString).toSeq == h2Knn,
        "conf'd ann_knn_join must BE the h2 face")
      spark.conf.set("graft.similarity.assign", "diagonal")
      intercept[IllegalArgumentException] {
        Similarity.annRange(spark, sfDir).collect()
      }
    } finally spark.conf.unset("graft.similarity.assign")
    assert(Similarity.annRange(spark, sfDir).collect()
      .map(_.toString).toSeq == flatRange,
      "unset conf must restore the flat default")
  }

}
