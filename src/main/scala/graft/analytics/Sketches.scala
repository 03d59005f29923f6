package graft.analytics

import graft.core.Graft
import graft.pipeline.{HashParity, ParityMath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic HyperLogLog distinct-count sketch, relationally.
  *
  * Why a hand-rolled sketch instead of `approx_count_distinct`:
  * Spark's built-in HLL++ and any other engine's sketch disagree bit
  * by bit (different hash, different registers), so it can never sit
  * under a cross-engine oracle, and its estimate is not reproducible
  * from the data alone. This formulation IS: md5-48 hashing (the
  * engine-portable hash the dedup family already uses), top-`p` bits
  * as the register index, the position of the first set bit in the
  * remaining 39 as the rank, and an estimator whose float work is
  * exact by construction - each register contributes 2^-M_j (one
  * mantissa bit, exponents within 40 of each other), so the register
  * sum is EXACT in IEEE double regardless of aggregation order: fully
  * map-side combinable with zero parity risk. Only the final
  * harmonic-mean divide (and the small-range ln() correction) are
  * inexact, and both engines run the identical expression.
  *
  * Shape at scale: one narrow hash pass, one (group, register) max -
  * map-side combinable, at most groups x 512 rows after partial agg -
  * then a groups-sized final agg: the classic mergeable-sketch
  * dataflow, with the merge expressed as ordinary max/sum so Catalyst
  * plans it like any aggregation. Estimate error is ~1.04/sqrt(512)
  * = 4.6% RSE; the query also emits the exact distinct count so the
  * error is visible.
  */
object Sketches {

  /** Register-index bits: 2^9 = 512 registers. */
  val hllP = 9
  val hllM: Long = 1L << hllP
  private val wBits = 48 - hllP // 39
  private val wMod = 1L << wBits
  // identical literal arithmetic in both dialects: alpha_512 * m * m
  // and the 2.5m linear-counting threshold. Every fractional literal
  // is CAST to DOUBLE because BOTH engines parse bare decimal
  // literals as DECIMAL, and their fixed-point division scales differ
  // (bit us: estimates diverged in the 8th digit through decimal
  // alpha arithmetic)
  private val alphaM2 =
    "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)" +
      " + CAST(1.079 AS DOUBLE) / CAST(512.0 AS DOUBLE)))" +
      " * CAST(512.0 AS DOUBLE) * CAST(512.0 AS DOUBLE)"
  private val lcThreshold = "CAST(1280.0 AS DOUBLE)"

  /** Per-group HLL estimate of distinct `l_orderkey` alongside the
    * exact count. rho = (zero bits before the first set bit in the
    * 39-bit suffix) + 1, via length(bin(w)) - identical in both
    * engines; w = 0 caps at 40.
    */
  /** The narrow per-row sketch pass over (l_returnflag, l_orderkey):
    * hash, register index, rank. Works over batch or streaming input.
    */
  private[graft] def hashRho(li: DataFrame): DataFrame =
    li.withColumn("h", expr("graft_md5_48(CAST(l_orderkey AS STRING))"))
      .withColumn("reg", expr(s"shiftright(h, $wBits)"))
      .withColumn("w", expr(s"h % ${wMod}L"))
      .withColumn("rho", expr(
        s"CASE WHEN w = 0 THEN ${wBits + 1} ELSE ${wBits + 1} - length(bin(w)) END"))
      .select(col("l_returnflag"), col("reg"), col("rho"))

  /** Estimator over the materialized register maxima
    * (l_returnflag, reg, mj) - shared by the batch and streaming faces
    * so the correction logic cannot drift.
    */
  private[graft] def estimate(regs: DataFrame,
                              key: String = "l_returnflag"): DataFrame =
    regs.groupBy(col(key))
      .agg(
        sum(expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), mj) AS DOUBLE)"))
          .as("s_ne"),
        count(lit(1)).as("n_reg"))
      .select(col(key),
        // empty registers contribute 2^-0 = 1.0 each; they are exactly
        // the registers absent from the (group, reg) aggregate
        (col("s_ne") + (lit(hllM) - col("n_reg")).cast("double")).as("s_all"),
        (lit(hllM) - col("n_reg")).as("v"))
      .select(col(key),
        expr(s"$alphaM2 / s_all").as("e_raw"), col("v"))
      .select(col(key),
        ParityMath.q6(expr(
          s"""CASE WHEN e_raw <= $lcThreshold AND v > 0
             |THEN CAST(512.0 AS DOUBLE) * ln(CAST(512.0 AS DOUBLE) / CAST(v AS DOUBLE))
             |ELSE e_raw END""".stripMargin)).as("hll_est"))

  /** Exact per-group distinct count, emitted alongside the estimate. */
  private[graft] def exactDistinct(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_exact"))

  def qHllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val li = Graft.tableParallel(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"))
    // one (flag, key) distinct pass serves the register build (max is
    // duplicate-blind) and the exact adjunct (countDistinct over a
    // distinct relation) - the raw table crosses the network once
    // (guide §2.2)
    val dis = li.distinct().localCheckpoint()
    val regs = hashRho(dis)
      .groupBy(col("l_returnflag"), col("reg"))
      .agg(max(col("rho")).as("mj"))
    estimate(regs).join(exactDistinct(dis), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"), col("hll_est"))
      .orderBy(col("l_returnflag"))
  }

  // ------------------------------------------------------------------
  // Count-Min sketch heavy hitters
  // ------------------------------------------------------------------

  /** Count-Min depth (independent hash rows) and width (buckets per
    * row). The sketch guarantees est >= true and
    * est <= true + eps * N with probability 1 - (1/2)^d where
    * eps = e / w - so width is THE scale knob: at 100 TB a production
    * run sizes w ~ 2^20 (few MB of counters) for the same error bound,
    * while the test width keeps collisions actually visible at the
    * verify scale factors so the overestimate path is exercised, not
    * just compiled. All arithmetic is integer end to end: zero float
    * parity risk.
    */
  val cmsD = 4
  val cmsW = 256L
  private val cmsK = 20

  private def cmsRows = (0 until cmsD)

  /** Per-row bucket of `user_id` for hash row `r`: the engine-portable
    * md5-48 over "r:user_id", reduced mod w. Seeding by prefixing the
    * row index gives d independent hash functions from the one digest
    * primitive both engines share.
    */
  private def bucketSpark(r: String): String =
    s"graft_md5_48(concat(CAST($r AS STRING), ':', CAST(user_id AS STRING))) % $cmsW"

  private def bucketDuck(r: String): String =
    HashParity.hex48Duck(
      s"md5(CAST($r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))") +
      s" % $cmsW"

  /** The narrow per-event sketch pass: each event fans out to its d
    * (row, bucket) cells. Works over batch or streaming input; the
    * downstream count agg is map-side combinable, so the shuffle after
    * partial aggregation is at most d x w rows per map task no matter
    * the corpus size - the mergeable-sketch dataflow, same as the HLL
    * register maxima.
    */
  private[graft] def cmsCells(ev: DataFrame): DataFrame =
    ev.select(col("user_id"),
        explode(array(cmsRows.map(lit(_)): _*)).as("r"))
      .select(col("r"), expr(bucketSpark("r")).as("bkt"))

  /** The counter matrix: works over batch or streaming input (for the
    * streaming face this groupBy IS the bounded d x w state).
    */
  private[graft] def cmsCounters(ev: DataFrame): DataFrame =
    cmsCells(ev).groupBy(col("r"), col("bkt"))
      .agg(count(lit(1)).as("c"))

  /** Point-estimate the top-k heaviest items from the materialized
    * counter state (shared by the batch and streaming faces). The
    * candidate relation here is the exact per-item count purely so the
    * overestimate is VISIBLE next to the estimate (est_cnt >= exact_cnt
    * always, and strictly > where rows collided); a production heavy-
    * hitter pass probes the counters with whatever candidate stream it
    * has. Counters are d x w rows - broadcast - so the corpus-sized
    * side never shuffles for the probe.
    */
  private[graft] def cmsEstimateAll(counters: DataFrame,
                                    ev: DataFrame): DataFrame = {
    val items = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
    val probes = items.select(col("user_id"), col("exact_cnt"),
        explode(array(cmsRows.map(lit(_)): _*)).as("r"))
      .withColumn("bkt", expr(bucketSpark("r")))
    probes.join(broadcast(counters), Seq("r", "bkt"))
      .groupBy(col("user_id"), col("exact_cnt"))
      .agg(min(col("c")).as("est_cnt"))
  }

  private[graft] def cmsEstimate(counters: DataFrame,
                                 ev: DataFrame): DataFrame =
    cmsEstimateAll(counters, ev)
      .orderBy(col("est_cnt").desc, col("user_id"))
      .limit(cmsK)
      .select(col("user_id"), col("exact_cnt"), col("est_cnt"))

  /** Heavy-hitter users of the event stream via a d=4 x w=256
    * Count-Min sketch: one narrow fan-out pass, one (row, bucket)
    * count - the only corpus-wide aggregation, bounded at d x w after
    * map-side combine - then a broadcast probe of the counter state.
    * Estimates are exact integers, so unlike the HLL face there is no
    * quantization step at all.
    */
  def qCmsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.table(spark, sfDir, "events").select(col("user_id"))
    cmsEstimate(cmsCounters(ev), ev)
  }

  val qCmsTopkSql: String = {
    val rowsList = cmsRows.mkString("[", ", ", "]")
    s"""WITH ev AS (
       |  SELECT user_id FROM events
       |), cells AS (
       |  SELECT u.r AS r, ${bucketDuck("u.r")} AS bkt
       |  FROM ev, unnest($rowsList) u(r)
       |), counters AS (
       |  SELECT r, bkt, count(*) AS c FROM cells GROUP BY r, bkt
       |), items AS (
       |  SELECT user_id, count(*) AS exact_cnt FROM ev GROUP BY user_id
       |), probes AS (
       |  SELECT user_id, exact_cnt, u.r AS r, ${bucketDuck("u.r")} AS bkt
       |  FROM items, unnest($rowsList) u(r)
       |)
       |SELECT user_id, exact_cnt, min(c) AS est_cnt
       |FROM probes JOIN counters USING (r, bkt)
       |GROUP BY user_id, exact_cnt
       |ORDER BY est_cnt DESC, user_id
       |LIMIT $cmsK""".stripMargin
  }

  // ------------------------------------------------------------------
  // CMS inner product: join cardinality without the join
  // ------------------------------------------------------------------

  /** Join-size estimation from two counter matrices (Cormode &
    * Muthukrishnan, "An improved data stream summary: the count-min
    * sketch and its applications", J. Algorithms 2005): the inner
    * product of two sketches row-wise, minimized over rows, estimates
    * sum_k f_A(k) * f_B(k) - the exact size of A join B on k - with a
    * one-sided error (colliding keys only ADD products). Here: how
    * many (purchase, error) event pairs share a user - the funnel
    * join `ss_stream_join` actually materializes - WITHOUT running the
    * join: each side is sketched in one narrow pass, and the estimate
    * is d dot products of w-length vectors. At 100 TB this is the
    * optimizer-style question (how big would this join be; do I dare
    * shuffle it) answered from two d x w matrices. Integer end to end;
    * the exact size is emitted alongside so the overestimate is
    * visible.
    */
  def qCmsJoinCard(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("user_id").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"))
    val ca = cmsCounters(purchases).toDF("r", "bkt", "ca")
    val cb = cmsCounters(errors).toDF("r", "bkt", "cb")
    val est = ca.join(cb, Seq("r", "bkt"))
      .groupBy(col("r"))
      .agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_pairs"))
    val exact = purchases.groupBy(col("user_id"))
      .agg(count(lit(1)).as("fa"))
      .join(errors.groupBy(col("user_id"))
        .agg(count(lit(1)).as("fb")), "user_id")
      .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_pairs"))
    est.crossJoin(exact).select(col("est_pairs"), col("exact_pairs"))
  }

  val qCmsJoinCardSql: String = {
    val rowsList = cmsRows.mkString("[", ", ", "]")
    s"""WITH p AS (
       |  SELECT user_id FROM events
       |  WHERE user_id IS NOT NULL AND event_type = 'purchase'
       |), e AS (
       |  SELECT user_id FROM events
       |  WHERE user_id IS NOT NULL AND event_type = 'error'
       |), ca AS (
       |  SELECT r, bkt, count(*) AS ca FROM (
       |    SELECT u.r AS r, ${bucketDuck("u.r")} AS bkt
       |    FROM p, unnest($rowsList) u(r)
       |  ) GROUP BY r, bkt
       |), cb AS (
       |  SELECT r, bkt, count(*) AS cb FROM (
       |    SELECT u.r AS r, ${bucketDuck("u.r")} AS bkt
       |    FROM e, unnest($rowsList) u(r)
       |  ) GROUP BY r, bkt
       |), ip AS (
       |  SELECT ca.r, CAST(sum(ca.ca * cb.cb) AS BIGINT) AS ip
       |  FROM ca JOIN cb USING (r, bkt) GROUP BY ca.r
       |), ex AS (
       |  SELECT CAST(coalesce(sum(fa * fb), 0) AS BIGINT) AS exact_pairs
       |  FROM (SELECT user_id, count(*) AS fa FROM p GROUP BY user_id) a
       |  JOIN (SELECT user_id, count(*) AS fb FROM e GROUP BY user_id) b
       |    USING (user_id)
       |)
       |SELECT (SELECT min(ip) FROM ip) AS est_pairs,
       |       ex.exact_pairs
       |FROM ex""".stripMargin
  }

  /** Second frequency moment F2 = sum_k f(k)^2 of the per-user event
    * distribution - the self-join size, and THE skew statistic: under
    * a uniform distribution F2 = N^2/#keys, so F2 far above that is
    * the quantitative "this key distribution will hot-spot a shuffle,
    * salt it" signal `q_salt_agg` acts on. Estimated as the CMS
    * self-inner-product (the AMS/CM classic) from the same one-pass
    * d x w matrix; exact F2 alongside. At 100 TB this is how a
    * pipeline DECIDES between the plain and salted plan without
    * paying a groupBy first.
    */
  def qCmsF2(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"))
    val c = cmsCounters(ev)
    val est = c.groupBy(col("r"))
      .agg(sum(col("c") * col("c")).as("ip"))
      .agg(min(col("ip")).as("est_f2"))
    val exact = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * col("f")).as("exact_f2"),
        count(lit(1)).as("n_keys"), sum(col("f")).as("n"))
    est.crossJoin(exact)
      .select(col("est_f2"), col("exact_f2"), col("n_keys"), col("n"))
  }

  val qCmsF2Sql: String = {
    val rowsList = cmsRows.mkString("[", ", ", "]")
    s"""WITH ev AS (
       |  SELECT user_id FROM events WHERE user_id IS NOT NULL
       |), c AS (
       |  SELECT r, bkt, count(*) AS c FROM (
       |    SELECT u.r AS r, ${bucketDuck("u.r")} AS bkt
       |    FROM ev, unnest($rowsList) u(r)
       |  ) GROUP BY r, bkt
       |), ip AS (
       |  SELECT r, CAST(sum(c * c) AS BIGINT) AS ip FROM c GROUP BY r
       |), ex AS (
       |  SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2,
       |    CAST(count(*) AS BIGINT) AS n_keys,
       |    CAST(sum(f) AS BIGINT) AS n
       |  FROM (SELECT user_id, count(*) AS f FROM ev GROUP BY user_id)
       |)
       |SELECT (SELECT min(ip) FROM ip) AS est_f2,
       |  ex.exact_f2, ex.n_keys, ex.n
       |FROM ex""".stripMargin
  }

  // ------------------------------------------------------------------
  // Fixed-bin histogram quantile sketch
  // ------------------------------------------------------------------

  /** Bin width for the price-quantile histogram. Bins are defined by
    * the VALUE DOMAIN (bin = floor(v / w)), not the data, which is
    * what makes the histogram a true mergeable sketch: any partition
    * of the input produces the same (group, bin) counts under an
    * ordinary sum - unlike rank-based quantile algorithms (t-digest,
    * GK) whose state depends on arrival order and can never sit under
    * a cross-engine oracle. Width is the accuracy knob (max quantile
    * error = one bin width); state is groups x occupied-bins rows.
    */
  val qtileBinW = 1024.0
  private[graft] val qtileQs = Seq(0.25, 0.5, 0.75, 0.95)

  /** The narrow per-row pass: value -> home bin. Batch or streaming. */
  private[graft] def qtileBins(li: DataFrame): DataFrame =
    li.select(col("l_returnflag"),
      floor(col("l_extendedprice") / lit(qtileBinW)).as("bin"))

  /** Quantile estimates from the materialized (group, bin, c) counts -
    * shared by the batch and streaming faces. For each target q: the
    * rank-r value (r = ceil(q*n)) falls in the first bin whose
    * cumulative count reaches r; linear interpolation inside that bin.
    * Every float op is the identical expression in both engines, q6 at
    * the end.
    */
  private[graft] def qtileEstimate(binCounts: DataFrame,
                                   key: String = "l_returnflag",
                                   binW: Double = qtileBinW): DataFrame = {
    val spark = binCounts.sparkSession
    val wCum = Window.partitionBy(col(key)).orderBy(col("bin"))
    val wAll = Window.partitionBy(col(key))
    val cum = binCounts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    val qdf = spark.createDataFrame(qtileQs.map(Tuple1(_))).toDF("q")
    cum.join(broadcast(qdf),
        col("cum") >= ceil(col("q") * col("n")))
      .withColumn("est", ParityMath.q6(
        col("bin").cast("double") * lit(binW) + lit(binW) *
          (ceil(col("q") * col("n")).cast("double") -
            (col("cum") - col("c")).cast("double")) /
          col("c").cast("double")))
      .groupBy(col(key), col("q"))
      .agg(max(col("n")).as("n"), min_by(col("est"), col("bin")).as("qtile_est"))
      .select(col(key), col("q"), col("n"), col("qtile_est"))
      .orderBy(col(key), col("q"))
  }

  /** Per-group price quantiles from the fixed-bin histogram: one
    * narrow binning pass, one (group, bin) count - map-side
    * combinable, at most groups x occupied-bins rows after partial
    * agg - then a tiny estimator over the counter state. The third
    * member of the mergeable-sketch family (distinct = HLL,
    * frequency = CMS, quantile = this).
    */
  def qQtileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val li = Graft.table(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    qtileEstimate(qtileBins(li)
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("c")))
  }

  // ------------------------------------------------------------------
  // Log-spaced (DDSketch-class) quantile drift
  // ------------------------------------------------------------------

  /** Bin width of the LOG-spaced quantile sketch, in integer
    * micro-nats: bin = ⌊ln(v_mu)·10⁶ + 0.5⌋ DIV 20000, i.e. γ = e^0.02
    * — each bin spans ~2.02% of value, so a mid-bin estimate carries
    * ~±1% RELATIVE error at every magnitude (the DDSketch guarantee,
    * Masson et al., VLDB 2019). The fixed-bin histogram above has
    * ABSOLUTE error one bin width — useless at the small end of a
    * heavy-tailed metric like revenue or latency; the log bins are the
    * member that serves those. Bins are defined by the VALUE DOMAIN,
    * so the (grp, bin) counts are a true mergeable sketch (order-free
    * additive — unlike KLL/t-digest/GK, whose compaction state depends
    * on arrival order and could never sit under a cross-engine
    * oracle), and the bin count is LAYOUT-bounded: the entire positive
    * micro-unit range collapses to ≤ ⌈ln(2⁶³)·10⁶/20000⌉ ≈ 2200 bins.
    * The one ln() per row runs on an exact INTEGER and quantizes to
    * micro-nats immediately — the tfidf/NLL parity scheme.
    */
  val ddBinWidthMu = 20000L
  private[graft] val ddBinExpr =
    "CAST(floor(ln(CAST(v_mu AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)" +
      s" DIV $ddBinWidthMu"

  /** The (grp, bin, c) log-bin count relation over the even/odd user
    * cohorts — the ADDITIVE storable fact of all three faces.
    */
  private[graft] def ddBinCounts(events: DataFrame): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(pmod(col("user_id"), lit(2)).as("grp"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
          .as("v_mu"))
      .filter(col("v_mu") >= 1L) // ln needs a positive integer
      .select(col("grp"), expr(ddBinExpr).as("bin"))
      .groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("c"))

  /** QUANTILE-SKETCH DRIFT between the user cohorts — the sketch
    * family's member of the drift suite (q_psi_drift watches the
    * event mix, q_ks_test the exact ECDF distance; this watches WHERE
    * the quantiles sit, at sketch cost, and reads out in RELATIVE
    * units): per cohort, the rank-r value (r = ⌈q·n⌉) falls in the
    * first log bin whose cumulative count reaches r; the integer bin
    * gap `drift_bins` IS the relative drift in e^0.02-factor units
    * (each bin ≈ +2% of value), exact and engine-proof, with the
    * mid-bin value estimates beside it as ONE pinned double chain
    * under q6.
    *
    * 100 TB shape: one map-combinable (grp, bin) count — the additive
    * fact — then everything runs on the ≤ ~2200-row layout-bounded
    * bin relation (the per-cohort cumulative window partitions on
    * grp over layout-bounded rows, never corpus-sized ones).
    */
  def qDdsketchDrift(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    ddsketchDriftFromBinCounts(
      ddBinCounts(Graft.table(spark, sfDir, "events")))
  }

  /** The drift readout over any (grp, bin, c) relation — shared by
    * all three faces.
    */
  private[graft] def ddsketchDriftFromBinCounts(vc0: DataFrame): DataFrame = {
    val spark = vc0.sparkSession
    val vc = vc0.groupBy(col("grp"), col("bin"))
      .agg(sum(col("c")).as("c")).localCheckpoint()
    val wCum = Window.partitionBy(col("grp")).orderBy(col("bin"))
    val wAll = Window.partitionBy(col("grp"))
    val cum = vc
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    val qdf = spark.createDataFrame(qtileQs.map(Tuple1(_))).toDF("q")
    val hit = cum.join(broadcast(qdf),
        col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col("grp"), col("q"))
      .agg(min(col("bin")).as("qbin"), max(col("n")).as("n"))
      .localCheckpoint()
    def estChain(b: String): String =
      s"exp((CAST($b AS DOUBLE) * $ddBinWidthMu.0 + " +
        s"${ddBinWidthMu / 2}.0) / 1000000.0) / 1000000.0"
    val a = hit.filter(col("grp") === 0)
      .select(col("q"), col("qbin").as("bin_a"), col("n").as("n_a"))
    val b = hit.filter(col("grp") =!= 0)
      .select(col("q"), col("qbin").as("bin_b"), col("n").as("n_b"))
    a.join(b, "q")
      .select(col("q"), col("n_a"), col("n_b"),
        col("bin_a"), col("bin_b"),
        (col("bin_a") - col("bin_b")).as("drift_bins"),
        graft.pipeline.ParityMath.q6(expr(estChain("bin_a")))
          .as("est_a"),
        graft.pipeline.ParityMath.q6(expr(estChain("bin_b")))
          .as("est_b"))
      .orderBy(col("q"))
  }

  lazy val qDdsketchDriftSql: String = {
    val qs = qtileQs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")
    def estChain(b: String): String =
      graft.pipeline.ParityMath.q6Sql(
        s"exp((CAST($b AS DOUBLE) * $ddBinWidthMu.0 + " +
          s"${ddBinWidthMu / 2}.0) / 1000000.0) / 1000000.0")
    s"""WITH obs AS (
       |  SELECT user_id % 2 AS grp,
       |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_mu
       |  FROM events
       |  WHERE user_id IS NOT NULL AND value IS NOT NULL
       |), bins AS (
       |  SELECT grp, $ddBinExprDuck AS bin FROM obs WHERE v_mu >= 1
       |), vc AS (
       |  SELECT grp, bin, CAST(count(*) AS BIGINT) AS c
       |  FROM bins GROUP BY 1, 2
       |), cum AS (
       |  SELECT grp, bin, c,
       |    CAST(sum(c) OVER (PARTITION BY grp ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
       |  FROM vc
       |), qs(q) AS (VALUES $qs),
       |hit AS (
       |  SELECT grp, q, CAST(min(bin) AS BIGINT) AS qbin,
       |    CAST(max(n) AS BIGINT) AS n
       |  FROM cum JOIN qs ON cum >= ceil(q * n)
       |  GROUP BY 1, 2
       |)
       |SELECT a.q, a.n AS n_a, b.n AS n_b,
       |  a.qbin AS bin_a, b.qbin AS bin_b,
       |  a.qbin - b.qbin AS drift_bins,
       |  ${estChain("a.qbin")} AS est_a,
       |  ${estChain("b.qbin")} AS est_b
       |FROM hit a JOIN hit b ON a.q = b.q
       |WHERE a.grp = 0 AND b.grp <> 0
       |ORDER BY a.q""".stripMargin
  }

  private def ddBinExprDuck: String =
    "CAST(floor(ln(CAST(v_mu AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)" +
      s" // $ddBinWidthMu"

  /** The per-key quantile READOUT over any (et, bin, c) log-bin count
    * relation — the keyed sibling of `ddsketchDriftFromBinCounts`'
    * cohort readout (one estimator family, two views): per (key, q)
    * the rank-⌈q·n⌉ value's bin and its mid-bin estimate, the exact
    * integer bin beside ONE pinned double chain under q6.
    */
  private[graft] def ddsketchQtileFromBinCounts(vc0: DataFrame): DataFrame = {
    val spark = vc0.sparkSession
    val vc = vc0.groupBy(col("et"), col("bin"))
      .agg(sum(col("c")).as("c"))
    val wCum = Window.partitionBy(col("et")).orderBy(col("bin"))
    val wAll = Window.partitionBy(col("et"))
    val cum = vc
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    val qdf = spark.createDataFrame(qtileQs.map(Tuple1(_))).toDF("q")
    def estChain(b: String): String =
      s"exp((CAST($b AS DOUBLE) * $ddBinWidthMu.0 + " +
        s"${ddBinWidthMu / 2}.0) / 1000000.0) / 1000000.0"
    cum.join(broadcast(qdf),
        col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col("et"), col("q"))
      .agg(min(col("bin")).as("qbin"), max(col("n")).as("n"))
      .select(col("et"), col("q"), col("n"),
        col("qbin").as("bin"),
        graft.pipeline.ParityMath.q6(expr(estChain("qbin"))).as("est"))
      .orderBy(col("et"), col("q"))
  }

  /** MERGEABLE QUANTILE STORE served off the bucketed sink
    * (`q_ddsketch_sink`) — the percentile-serving story the sketch
    * family was missing: the t-digest/KLL use case (publish quantile
    * state once, serve percentiles per key from point reads) carried
    * by the DDSketch-class log-bin histogram, because domain-defined
    * bins are the MERGEABLE form of that idea — (et, bin, c) counts
    * are order-free additive under any split (t-digest/GK compaction
    * state is arrival-order-dependent and could never sit under a
    * cross-engine oracle; same argument as `ddBinWidthMu`). The gate
    * replays the full publish + serve path: base from the first time
    * half, every event type touched afterwards refreshed WHOLE via
    * `mergeDelta` (the update-mode publish contract, key = et), the
    * delta left PENDING (compactFrac huge), then each key's
    * percentiles served through `getKey` — the key's home base bucket
    * file plus the pending delta files, decoded on the driver with no
    * Spark job, the `ss_sink_point_read` serving shape with the
    * quantile estimator on top. Oracle: the batch per-type readout
    * over the whole corpus, so a lookup that missed the pending delta
    * — or merged the wrong version — mismatches.
    *
    * 100 TB shape: the additive (et, bin) partial is the landed fact
    * (map-combinable; ≤ ~2200 bins per key regardless of corpus
    * size); publish is O(changed keys × bins); a percentile read
    * touches ONE base bucket + the pending deltas, never the store.
    */
  def qDdsketchSink(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.table(spark, sfDir, "events")
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type").as("et"),
        expr("graft_ts_us(ts)").as("t"),
        expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
          .as("v_mu"))
      .filter(col("v_mu") >= 1L)
    val b = ev.agg(min(col("t")), max(col("t"))).head
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    // ONE events pass lands full counts, first-half counts and the
    // touched-after-split flag per (et, bin) — the full/base/changed
    // trio used to be three independent shuffles of the raw corpus
    // (full bins, first-half bins, post-split key distinct); every
    // derived relation below reads the checkpointed bin-sized state
    val state = ev
      .select(col("et"), expr(ddBinExpr).as("bin"),
        (col("t") <= mid).as("in1"))
      .groupBy(col("et"), col("bin"))
      .agg(count(lit(1)).as("c_full"),
        count(when(col("in1"), lit(1))).as("c_base"),
        max(when(!col("in1"), lit(1))).as("touched2"))
      .localCheckpoint()
    val full = state.select(col("et"), col("bin"), col("c_full").as("c"))
    val base = state.filter(col("c_base") > 0)
      .select(col("et"), col("bin"), col("c_base").as("c"))
    // keys with post-split activity: their full-state rows ARE the
    // delta (whole-key replacement - the update-mode publish contract)
    val changed = state.filter(col("touched2") === 1)
      .select(col("et")).distinct()
    val delta = full.join(changed, Seq("et"), "left_semi")
    val root = graft.pipeline.SignatureStore
      .tempDirForExit("graft_qtile_sink")
    val sink = new graft.sinks.BucketedSnapshotCacheSink(
      root, Seq("et"), numBuckets = 8, compactFrac = 1e9)
    sink.put("qt", base)
    sink.mergeDelta("qt", delta, Seq("et"))
    // serve every key through the point-read path (the facade
    // posture). One key goes through the single-key `getKey` so the
    // per-key serving path stays live on this face; the full key list
    // is served by the batched MULTIGET (`getKeys` - the
    // ss_sink_point_read precedent): identical pruned single-bucket
    // semantics, one read for the whole list instead of |keys|.
    val ets = sink.get(spark, "qt").select(col("et")).distinct()
      .orderBy(col("et")).collect().map(_.getString(0))
    require(ets.nonEmpty, "quantile sink published no keys")
    val served0 = sink.getKey(spark, "qt", Seq(ets.head))
    val served =
      if (ets.length == 1) served0
      else served0.unionByName(
        sink.getKeys(spark, "qt", ets.tail.toSeq.map(Seq[Any](_))))
    // the served bins are driver rows already: one partition runs the
    // estimator's aggregations and windows without an exchange
    ddsketchQtileFromBinCounts(served.coalesce(1))
  }

  lazy val qDdsketchSinkSql: String = {
    val qs = qtileQs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")
    def estChain(b: String): String =
      graft.pipeline.ParityMath.q6Sql(
        s"exp((CAST($b AS DOUBLE) * $ddBinWidthMu.0 + " +
          s"${ddBinWidthMu / 2}.0) / 1000000.0) / 1000000.0")
    s"""WITH obs AS (
       |  SELECT event_type AS et,
       |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_mu
       |  FROM events
       |  WHERE event_type IS NOT NULL AND value IS NOT NULL
       |    AND ts IS NOT NULL
       |), bins AS (
       |  SELECT et, $ddBinExprDuck AS bin FROM obs WHERE v_mu >= 1
       |), vc AS (
       |  SELECT et, bin, CAST(count(*) AS BIGINT) AS c
       |  FROM bins GROUP BY 1, 2
       |), cum AS (
       |  SELECT et, bin, c,
       |    CAST(sum(c) OVER (PARTITION BY et ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY et) AS BIGINT) AS n
       |  FROM vc
       |), qs(q) AS (VALUES $qs),
       |hit AS (
       |  SELECT et, q, CAST(min(bin) AS BIGINT) AS qbin,
       |    CAST(max(n) AS BIGINT) AS n
       |  FROM cum JOIN qs ON cum >= ceil(q * n)
       |  GROUP BY 1, 2
       |)
       |SELECT et, q, n, qbin AS bin, ${estChain("qbin")} AS est
       |FROM hit ORDER BY et, q""".stripMargin
  }

  /** EXACT per-group quantiles by rank selection (quantile_disc): the
    * ground truth the histogram sketch above approximates, at the
    * honest exact price — one per-group exchange + SORT of every
    * value. Benchmarked next to its sketch twin, the delta IS the
    * cost of exactness (the same pairing discipline as the
    * sketch/prod faces). Selection is the element at rank ceil(q·n):
    * a VALUE pick, so price ties need no tie-break — any rank
    * assignment among equal values selects the same number.
    *
    * 100 TB shape: one exchange keyed on the group carries the sort;
    * both windows (rank + group size) share it; the 4-row quantile
    * spec broadcasts. No second scan, no global sort.
    */
  def qQuantileExact(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"))
    val qs = qtileQs.map(q => s"CAST($q AS DOUBLE)")
      .mkString("array(", ", ", ")")
    val ranked = Graft.table(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("l_returnflag"))))
    ranked
      .join(broadcast(spark.range(1)
        .select(explode(expr(qs)).as("q"))),
        col("rn") === ceil(col("q") * col("n")).cast("long"))
      .select(col("l_returnflag"), col("q"), col("n"),
        col("l_extendedprice").as("qtile"))
      .orderBy(col("l_returnflag"), col("q"))
  }

  val qQuantileExactSql: String = {
    val qList = qtileQs.map(q => s"CAST($q AS DOUBLE)")
      .mkString("[", ", ", "]")
    s"""WITH r AS (
       |  SELECT l_returnflag, l_extendedprice,
       |    row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY l_extendedprice) AS rn,
       |    count(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM lineitem
       |), qs AS (SELECT unnest($qList) AS q)
       |SELECT l_returnflag, q, CAST(n AS BIGINT) AS n,
       |  l_extendedprice AS qtile
       |FROM r, qs
       |WHERE rn = CAST(ceil(q * n) AS BIGINT)
       |ORDER BY l_returnflag, q""".stripMargin
  }

  val qQtileSketchSql: String = {
    val w = s"CAST($qtileBinW AS DOUBLE)"
    val qList = qtileQs.map(q => s"CAST($q AS DOUBLE)")
      .mkString("[", ", ", "]")
    s"""WITH b AS (
       |  SELECT l_returnflag,
       |    CAST(floor(l_extendedprice / $w) AS BIGINT) AS bin
       |  FROM lineitem
       |), c AS (
       |  SELECT l_returnflag, bin, count(*) AS c FROM b GROUP BY 1, 2
       |), cum AS (
       |  SELECT l_returnflag, bin, c,
       |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
       |    sum(c) OVER (PARTITION BY l_returnflag) AS n
       |  FROM c
       |), qs AS (
       |  SELECT unnest($qList) AS q
       |), cand AS (
       |  SELECT l_returnflag, q, n, bin, c, cum
       |  FROM cum, qs
       |  WHERE cum >= CAST(ceil(q * n) AS BIGINT)
       |)
       |SELECT l_returnflag, q, CAST(max(n) AS BIGINT) AS n,
       |  arg_min(${ParityMath.q6Sql(
            s"""CAST(bin AS DOUBLE) * $w + $w *
               |(CAST(ceil(q * n) AS DOUBLE) - CAST(cum - c AS DOUBLE))
               |/ CAST(c AS DOUBLE)""".stripMargin)}, bin) AS qtile_est
       |FROM cand
       |GROUP BY l_returnflag, q
       |ORDER BY l_returnflag, q""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_equidepth: exact quantile binning on the compressed value relation
  // ------------------------------------------------------------------

  /** Equi-depth bin count for the discretizer. */
  val edBins = 16

  /** EXACT EQUI-DEPTH HISTOGRAM (quantile discretization) — the
    * feature-binning map an ML pipeline fits ("cut this column into 16
    * equal-population bins"), and the quantile family's third member:
    * q_histogram fixes the WIDTH, the sketches approximate, this fixes
    * the DEPTH exactly. The point is the PLAN: rows are never ranked.
    * Values micro-quantize and collapse to the (value, count) relation
    * (one map-combinable groupBy); ONE range-shuffle exclusive prefix
    * sum over the DISTINCT values (GlobalRank — per-partition sums to
    * the driver, never rows) gives each value its rank interval
    * [cum+1, cum+c]; the ≤ `edBins`-row bin spec (rank cuts b·n DIV B,
    * computed driver-side from the free grand total) broadcasts back,
    * and per-bin occupancy/boundaries are exact integer interval
    * arithmetic. Bin b holds ranks (b·n DIV B, (b+1)·n DIV B] under
    * the (v, arrival) total order — tie groups split across a cut by
    * count, so the per-bin populations are exactly n/B ±1 regardless
    * of ties, and lo/hi report each bin's value range.
    *
    * 100 TB shape: the expensive exchange is over DISTINCT
    * micro-values (sublinear whenever values repeat — a metric column
    * at corpus scale repeats constantly), everything after is
    * bins-sized. The full-sort alternative (q_quantile_exact's honest
    * price) never touches this operator.
    */
  def qEquidepth(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    equidepthOf(spark, Graft.table(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
        .as("v")))
  }

  /** The equi-depth core over any single-column `v: BIGINT` relation
    * (the spec feeds planted tie corpora through this entry).
    */
  def equidepthOf(spark: SparkSession, values: DataFrame): DataFrame = {
    val vals = values
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val (cum, n) = graft.core.GlobalRank.withPrefixSum(
      vals, Seq(col("v")), "c", "cum")
    require(n <= Long.MaxValue / edBins,
      s"$n values exceed the bin-cut arithmetic headroom")
    val bins = (0 until edBins)
      .map(b => (b.toLong, b * n / edBins + 1L, (b + 1) * n / edBins))
      .filter { case (_, lo, hi) => hi >= lo }
    import spark.implicits._
    cum.join(broadcast(bins.toDF("bin", "r_lo", "r_hi")),
        col("cum") + 1L <= col("r_hi") && col("cum") + col("c") >= col("r_lo"))
      .groupBy(col("bin"))
      .agg(sum(least(col("r_hi"), col("cum") + col("c")) -
          greatest(col("r_lo"), col("cum") + 1L) + 1L).as("n_events"),
        min(col("v")).as("lo_mu"), max(col("v")).as("hi_mu"))
      .orderBy(col("bin"))
  }

  /** Oracle: the same compressed-relation rank-interval arithmetic via
    * one window prefix sum — exact integers end to end.
    */
  val qEquidepthSql: String =
    s"""WITH e AS (
       |  SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL
       |), vc AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1
       |), cum AS (
       |  SELECT v, c,
       |    CAST(COALESCE(sum(c) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum
       |  FROM vc
       |), nn AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n FROM vc
       |), bins AS (
       |  SELECT b, b * n // $edBins + 1 AS r_lo,
       |         (b + 1) * n // $edBins AS r_hi
       |  FROM (SELECT unnest(range(0, $edBins)) AS b), nn
       |  WHERE (b + 1) * n // $edBins >= b * n // $edBins + 1
       |)
       |SELECT CAST(bin.b AS BIGINT) AS bin,
       |  CAST(sum(least(bin.r_hi, cum.cum + cum.c)
       |    - greatest(bin.r_lo, cum.cum + 1) + 1) AS BIGINT) AS n_events,
       |  min(cum.v) AS lo_mu, max(cum.v) AS hi_mu
       |FROM cum JOIN bins bin
       |  ON cum.cum + 1 <= bin.r_hi AND cum.cum + cum.c >= bin.r_lo
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** THE FITTED DISCRETIZER'S APPLY SIDE — the (value → bin) map under
    * the standard ML-binning contract (Spark QuantileDiscretizer /
    * pandas qcut): bins are defined by CUT VALUES, equal values always
    * share a bin, and duplicate cuts collapse. This is deliberately
    * NOT `qEquidepth`'s rank-interval split: there a 60%-mass tie
    * group spans 9 bins (populations exactly n/B ±1); here it lands
    * whole in one bin and the realized populations absorb the skew —
    * the two faces document the two textbook tie semantics side by
    * side. Cut value b = the distinct value whose rank interval
    * contains rank b·n DIV B; values ≤ a cut belong to the lower bin
    * (right-closed intervals), so bin(v) = #cuts < v.
    *
    * 100 TB shape: the FIT collapses to ≤ B−1 cut values folded on
    * the driver from a (B−1)-row broadcast join (the documented
    * k-bounded driver-fold posture), and the APPLY is a NARROW
    * codegen'd comparison fold — literal cuts spliced into the plan,
    * zero shuffle, zero broadcast at apply time. The map is emitted at
    * distinct-value granularity (the reusable artifact); applying it
    * to the raw column is the same literal fold.
    */
  def qEquidepthMap(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    equidepthMapOf(spark, Graft.table(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
        .as("v")))
  }

  /** The map core over any single-column `v: BIGINT` relation. */
  def equidepthMapOf(spark: SparkSession, values: DataFrame): DataFrame = {
    val vals = values
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val (cum, n) = graft.core.GlobalRank.withPrefixSum(
      vals, Seq(col("v")), "c", "cum")
    require(n <= Long.MaxValue / edBins,
      s"$n values exceed the bin-cut arithmetic headroom")
    val cutRanks = (1 until edBins).map(b => b * n / edBins)
      .filter(_ >= 1L).distinct
    import spark.implicits._
    // <= B-1 cut values reach the driver: the fitted artifact itself
    val cuts: Seq[Long] =
      if (cutRanks.isEmpty) Seq.empty
      else cum.join(broadcast(cutRanks.toDF("r")),
          col("cum") < col("r") && col("r") <= col("cum") + col("c"))
        .select(col("v")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
    val bin = cuts.map(cv => when(col("v") > lit(cv), 1L).otherwise(0L))
      .reduceOption(_ + _).getOrElse(lit(0L))
    vals.select(col("v"), col("c"), bin.as("bin"))
      .orderBy(col("v"))
  }

  /** Oracle: same construction — cut ranks to cut values on the
    * compressed prefix relation, then the comparison-count bin.
    */
  val qEquidepthMapSql: String =
    s"""WITH e AS (
       |  SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM events
       |  WHERE ts IS NOT NULL AND value IS NOT NULL
       |), vc AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1
       |), cum AS (
       |  SELECT v, c,
       |    CAST(COALESCE(sum(c) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum
       |  FROM vc
       |), nn AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n FROM vc
       |), cutr AS (
       |  SELECT DISTINCT b * n // $edBins AS r
       |  FROM (SELECT unnest(range(1, $edBins)) AS b), nn
       |  WHERE b * n // $edBins >= 1
       |), cuts AS (
       |  SELECT DISTINCT cum.v AS cv
       |  FROM cum JOIN cutr ON cum.cum < cutr.r AND cutr.r <= cum.cum + cum.c
       |)
       |SELECT vc.v, vc.c,
       |  CAST(COALESCE(sum(CASE WHEN cuts.cv < vc.v THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS bin
       |FROM vc LEFT JOIN cuts ON true
       |GROUP BY 1, 2
       |ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Sliding-window distinct via register merge
  // ------------------------------------------------------------------

  /** 4-hour sub-window buckets; the sliding window spans 6 of them
    * (24 h ending at each occupied bucket).
    */
  val slideBucketUs = 14400000000L
  val slideSpan = 5L // window = [wb - 5, wb]

  /** Attach each row (carrying a bucket column `b`) to every OCCUPIED
    * sliding window covering it: wb ∈ [b, b + slideSpan] ∩ wins. The
    * predicate form `b BETWEEN wb - span AND wb` plans as a
    * BroadcastNestedLoopJoin — O(rows × windows) predicate
    * evaluations, the accidental-cartesian shape of guide §3 — while
    * this explode + equi-join fans each row to its ≤ span+1 candidate
    * windows and hash-joins them against the occupied-window list:
    * O(rows × (span+1)) with a codegen'd BroadcastHashJoin. Identical
    * output relation (same columns, wb leading).
    */
  private[analytics] def fanToWindows(df: DataFrame,
                                      wins: DataFrame): DataFrame =
    df.withColumn("wb", explode(expr(s"sequence(b, b + ${slideSpan}L)")))
      .join(broadcast(wins), Seq("wb"))

  /** Distinct users per sliding 24 h window - the mergeable-sketch
    * payoff over TIME: per-4h-bucket HLL registers are built once
    * (one narrow hash pass + one (bucket, register) max), and every
    * sliding window's estimate is a MERGE of six bucket sketches
    * (max over the range) instead of a re-scan of six hours of
    * events. Exact sliding distinct re-reads every window's raw rows
    * (the 6x read amplification this kills at 100 TB); it's emitted
    * alongside for error visibility. The tiny window-end list
    * broadcasts onto the bucket sketches; nothing corpus-sized
    * shuffles twice.
    */
  def qHllSliding(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(ParityMath.fdivSql("graft_ts_us(ts)", s"${slideBucketUs}L")).as("b"),
        col("user_id"))
    // ONE (bucket, user) distinct pass serves every consumer (guide
    // §2.2 "aggregate before you shuffle"): the register build is
    // duplicate-blind (max over identical (reg, rho) rows), the exact
    // adjunct's countDistinct only sees the SET of users per window,
    // and the occupied-window list is a projection - so the raw event
    // stream crosses the network ONCE and everything downstream is
    // keyed on the (b, user)-distinct relation, which shrinks by
    // exactly the per-bucket key-repetition factor that grows with
    // corpus scale
    val dis = ev.distinct().localCheckpoint()
    val regs = hashRho(dis.select(col("b").as("l_returnflag"),
        col("user_id").as("l_orderkey")))
      .select(col("l_returnflag").as("b"), col("reg"), col("rho"))
      .groupBy(col("b"), col("reg"))
      .agg(max(col("rho")).as("mj"))
    val wins = dis.select(col("b").as("wb")).distinct()
    val merged = fanToWindows(regs, wins)
      .groupBy(col("wb"), col("reg"))
      .agg(max(col("mj")).as("mj"))
    val exact = fanToWindows(dis, wins)
      .groupBy(col("wb"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    estimate(merged, "wb").join(exact, Seq("wb"))
      .select(col("wb"), col("n_exact"), col("hll_est"))
      .orderBy(col("wb"))
  }

  val qHllSlidingSql: String = {
    val h48 = HashParity.hex48Duck("md5(CAST(user_id AS VARCHAR))")
    s"""WITH e AS (
       |  SELECT ${ParityMath.fdivDuckSql("epoch_us(ts)", slideBucketUs.toString)} AS b, user_id
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), r AS (
       |  SELECT b, h >> $wBits AS reg, h % $wMod AS w FROM (
       |    SELECT b, $h48 AS h FROM e
       |  )
       |), regs AS (
       |  SELECT b, reg,
       |    max(CASE WHEN w = 0 THEN ${wBits + 1}
       |        ELSE ${wBits + 1} - length(bin(w)) END) AS mj
       |  FROM r GROUP BY b, reg
       |), wins AS (
       |  SELECT DISTINCT b AS wb FROM e
       |), merged AS (
       |  SELECT w.wb, r.reg, max(r.mj) AS mj
       |  FROM regs r JOIN wins w ON r.b BETWEEN w.wb - $slideSpan AND w.wb
       |  GROUP BY w.wb, r.reg
       |), est AS (
       |  SELECT wb,
       |    sum(1.0 / CAST((CAST(1 AS BIGINT) << mj) AS DOUBLE))
       |      + CAST($hllM - count(*) AS DOUBLE) AS s_all,
       |    $hllM - count(*) AS v
       |  FROM merged GROUP BY wb
       |), e2 AS (
       |  SELECT wb, $alphaM2 / s_all AS e_raw, v FROM est
       |), ex AS (
       |  SELECT w.wb, CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact
       |  FROM e JOIN wins w ON e.b BETWEEN w.wb - $slideSpan AND w.wb
       |  GROUP BY w.wb
       |)
       |SELECT e2.wb, ex.n_exact,
       |  ${ParityMath.q6Sql(
            s"""CASE WHEN e2.e_raw <= $lcThreshold AND e2.v > 0
               |THEN CAST(512.0 AS DOUBLE) * ln(CAST(512.0 AS DOUBLE) / CAST(e2.v AS DOUBLE))
               |ELSE e2.e_raw END""".stripMargin)} AS hll_est
       |FROM e2 JOIN ex USING (wb)
       |ORDER BY e2.wb""".stripMargin
  }

  // ------------------------------------------------------------------
  // KMV (k-minimum-values) set-operations sketch
  // ------------------------------------------------------------------

  /** KMV buffer size. The fourth mergeable sketch in the family -
    * distinct = HLL, frequency = CMS, quantile = histogram, SET
    * OPERATIONS = KMV - and the one that answers what HLL registers
    * cannot: how much do two groups' value sets OVERLAP. A group's
    * sketch is its k smallest distinct md5-48 hashes; for a pair, the
    * k smallest of the merged buffers are a uniform sample of the
    * union, so the fraction of them present in both sides estimates
    * Jaccard (Beyer et al., "On Synopses for Distinct-Value Estimation
    * Under Multiset Operations", SIGMOD 2007), and the kth smallest
    * hash estimates the union size ((k-1) * 2^48 / h_k). Everything is
    * deterministic integer selection + one IEEE divide, so the DuckDB
    * oracle matches bitwise - no engine-native approx sketch can sit
    * under a cross-engine oracle. RSE ~ 1/sqrt(k) = 6%; the exact
    * pairwise Jaccard is emitted alongside so the error is visible.
    *
    * Shape at scale: one narrow hash pass, one (group, h) distinct -
    * map-side combinable - one bounded per-group top-k (the
    * TopKWindowRewrite heap shape), then all pairwise math runs on
    * groups x k-sized arrays: the corpus is never shuffled for the
    * pair comparisons.
    */
  val kmvK = 256

  /** Distinct (event_type, h) pairs - the input both faces sketch. */
  private[graft] def kmvHashes(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        expr("graft_md5_48(CAST(user_id AS STRING))").as("h"))
      .distinct()

  /** Per-group sorted KMV buffer from the distinct hash relation. */
  private[graft] def kmvSets(hs: DataFrame,
                             key: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("h"))
    hs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= kmvK)
      .groupBy(col(key))
      .agg(sort_array(collect_list(col("h"))).as("ks"))
  }

  /** The KMV pair estimator over any relation carrying two buffer
    * columns `ka`, `kb`: appends `kmv_jaccard` and `kmv_union_est`.
    * Shared by the type-pair, retention and streaming faces so the
    * math cannot drift. All in-row array work on k-sized buffers.
    */
  private[graft] def kmvPairMath(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("u",
        expr(s"slice(array_sort(array_union(ka, kb)), 1, $kmvK)"))
      .withColumn("m", expr(
        "size(filter(u, x -> array_contains(ka, x) AND array_contains(kb, x)))"))
      .withColumn("kmv_jaccard", ParityMath.q6(col("m").cast("double")
        / size(col("u")).cast("double")))
      // u shorter than k means BOTH sides' buffers were complete
      // sets, so the union size is exact; otherwise h_k estimates it
      .withColumn("kmv_union_est",
        when(size(col("u")) < kmvK, size(col("u")).cast("double"))
          .otherwise(ParityMath.q6(
            lit((kmvK - 1).toDouble * 281474976710656.0)
              / expr("CAST(element_at(u, size(u)) AS DOUBLE)"))))
      .drop("u", "m")

  /** Pairwise estimates over the per-group buffers - shared by the
    * batch and streaming faces so the estimator cannot drift.
    */
  private[graft] def kmvEstimates(kmv: DataFrame): DataFrame =
    kmvPairMath(kmv.toDF("type_a", "ka").join(kmv.toDF("type_b", "kb"),
        col("type_a") < col("type_b")))
      .select(col("type_a"), col("type_b"),
        col("kmv_jaccard"), col("kmv_union_est"))

  /** Exact pairwise overlap (one self-join keyed on the hash), emitted
    * alongside the estimates; pairs with zero overlap still appear.
    */
  private[graft] def kmvExact(hs: DataFrame): DataFrame = {
    val sizes = hs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val inter = hs.toDF("type_a", "h").join(hs.toDF("type_b", "h2"),
        col("h") === col("h2") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_inter"))
    sizes.toDF("type_a", "na").join(sizes.toDF("type_b", "nb"),
        col("type_a") < col("type_b"))
      .join(inter, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        ParityMath.q6(coalesce(col("n_inter"), lit(0L)).cast("double")
          / (col("na") + col("nb")
            - coalesce(col("n_inter"), lit(0L))).cast("double"))
          .as("jaccard_exact"))
  }

  def qKmvJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val hs = kmvHashes(Graft.tableParallel(spark, sfDir, "events"))
    // the per-group buffers are groups x k longs - small by
    // construction, the same legitimate collect as the IVF centroid
    // literals - so the pairwise self-join runs on a LOCAL relation
    // instead of duplicating the corpus-scan subtree per join side.
    // The sketch path is then exactly ONE corpus scan (hash + one
    // bounded per-group top-k); the exact-overlap relation joined
    // alongside is the error-visibility adjunct (same role as
    // q_hll_distinct's n_exact), not part of the production path.
    val s2 = spark; import s2.implicits._
    val kmvLocal = kmvSets(hs).collect()
      .map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    kmvExact(hs)
      .join(kmvEstimates(kmvLocal.toDF("event_type", "ks")),
        Seq("type_a", "type_b"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Sliding-window heavy hitters via counter-matrix merge: per-bucket
    * CMS partials (additive) are built once, every 24 h window's
    * matrix is their SUM, and the probe + top-k run against the merged
    * windows - frequency's member of the sliding family next to
    * `q_hll_sliding` (distinct) and `q_kmv_retention` (set ops).
    * Integer end to end; the per-window top-k plans as the bounded
    * heap via the window rewrite.
    */
  val cmsSlideK = 10

  def qCmsSliding(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(ParityMath.fdivSql("graft_ts_us(ts)", s"${slideBucketUs}L")).as("b"),
        col("user_id"))
    // ONE per-(bucket, user) count pass serves every consumer (guide
    // §2.2 "aggregate before you shuffle"): the CMS counters are sums
    // of per-user counts (the bucket is a pure function of (r, user)),
    // the exact adjunct's per-window count is the additive sum of
    // per-bucket counts, and the occupied-window list is a projection
    // - so the raw event stream crosses the network ONCE and both the
    // 4-row CMS explode and the 6-way window fan run over the
    // (b, user)-aggregated relation, which shrinks by exactly the
    // key-repetition factor that grows with corpus scale
    val bu = ev.groupBy(col("b"), col("user_id"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val counters = bu
      .select(col("b"), col("user_id"), col("c"),
        explode(array(cmsRows.map(lit(_)): _*)).as("r"))
      .select(col("b"), col("r"), expr(bucketSpark("r")).as("bkt"),
        col("c"))
      .groupBy(col("b"), col("r"), col("bkt"))
      .agg(sum(col("c")).as("c"))
    val wins = bu.select(col("b").as("wb")).distinct()
    val merged = fanToWindows(counters, wins)
      .groupBy(col("wb"), col("r"), col("bkt"))
      .agg(sum(col("c")).as("c"))
    val items = fanToWindows(bu, wins)
      .groupBy(col("wb"), col("user_id"))
      .agg(sum(col("c")).as("exact_cnt"))
    val probes = items
      .select(col("wb"), col("user_id"), col("exact_cnt"),
        explode(array(cmsRows.map(lit(_)): _*)).as("r"))
      .withColumn("bkt", expr(bucketSpark("r")))
    val est = probes.join(broadcast(merged), Seq("wb", "r", "bkt"))
      .groupBy(col("wb"), col("user_id"), col("exact_cnt"))
      .agg(min(col("c")).as("est_cnt"))
    val wTop = Window.partitionBy(col("wb"))
      .orderBy(col("est_cnt").desc, col("user_id"))
    est.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= cmsSlideK).drop("rn")
      .orderBy(col("wb"), col("est_cnt").desc, col("user_id"))
  }

  val qCmsSlidingSql: String = {
    val rowsList = cmsRows.mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT ${ParityMath.fdivDuckSql("epoch_us(ts)", slideBucketUs.toString)} AS b, user_id
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), counters AS (
       |  SELECT b, r, bkt, count(*) AS c FROM (
       |    SELECT b, u.r AS r, ${bucketDuck("u.r")} AS bkt
       |    FROM e, unnest($rowsList) u(r)
       |  ) GROUP BY b, r, bkt
       |), wins AS (
       |  SELECT DISTINCT b AS wb FROM e
       |), merged AS (
       |  SELECT w.wb, c.r, c.bkt, CAST(sum(c.c) AS BIGINT) AS c
       |  FROM counters c JOIN wins w
       |    ON c.b BETWEEN w.wb - $slideSpan AND w.wb
       |  GROUP BY w.wb, c.r, c.bkt
       |), items AS (
       |  SELECT w.wb, e.user_id, count(*) AS exact_cnt
       |  FROM e JOIN wins w ON e.b BETWEEN w.wb - $slideSpan AND w.wb
       |  GROUP BY w.wb, e.user_id
       |), probes AS (
       |  SELECT wb, user_id, exact_cnt, u.r AS r,
       |    ${bucketDuck("u.r")} AS bkt
       |  FROM items, unnest($rowsList) u(r)
       |), est AS (
       |  SELECT wb, user_id, exact_cnt, min(c) AS est_cnt
       |  FROM probes JOIN merged USING (wb, r, bkt)
       |  GROUP BY wb, user_id, exact_cnt
       |)
       |SELECT wb, user_id, exact_cnt, est_cnt FROM (
       |  SELECT *, row_number() OVER (PARTITION BY wb
       |    ORDER BY est_cnt DESC, user_id) AS rn
       |  FROM est
       |) WHERE rn <= $cmsSlideK
       |ORDER BY wb, est_cnt DESC, user_id""".stripMargin
  }

  /** Sliding-window value quantiles via bin-count merge: the fourth
    * sliding face. Per-bucket (bin, count) partials sum into each
    * window's histogram; the shared estimator runs per window. Bin
    * width 16 = 2^4, so the bin id is IEEE-exact.
    */
  val slideQtileW = 16.0

  def qQtileSliding(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.table(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(expr(ParityMath.fdivSql("graft_ts_us(ts)", s"${slideBucketUs}L")).as("b"),
        floor(col("value") / lit(slideQtileW)).as("bin"))
    // the occupied-window list is a projection of the (bucket, bin)
    // partials - one raw-event shuffle total (guide §2.2), where
    // deriving wins from the raw stream re-shuffled it a second time
    val partials = ev.groupBy(col("b"), col("bin"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val wins = partials.select(col("b").as("wb")).distinct()
    val merged = fanToWindows(partials, wins)
      .groupBy(col("wb"), col("bin"))
      .agg(sum(col("c")).as("c"))
    qtileEstimate(merged, "wb", slideQtileW)
  }

  val qQtileSlidingSql: String = {
    val w = s"CAST($slideQtileW AS DOUBLE)"
    val qList = qtileQs.map(q => s"CAST($q AS DOUBLE)")
      .mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT ${ParityMath.fdivDuckSql("epoch_us(ts)", slideBucketUs.toString)} AS b,
       |    CAST(floor(value / $w) AS BIGINT) AS bin
       |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
       |), p AS (
       |  SELECT b, bin, count(*) AS c FROM e GROUP BY b, bin
       |), wins AS (
       |  SELECT DISTINCT b AS wb FROM e
       |), m AS (
       |  SELECT w.wb, p.bin, sum(p.c) AS c
       |  FROM p JOIN wins w ON p.b BETWEEN w.wb - $slideSpan AND w.wb
       |  GROUP BY w.wb, p.bin
       |), cum AS (
       |  SELECT wb, bin, c,
       |    sum(c) OVER (PARTITION BY wb ORDER BY bin) AS cum,
       |    sum(c) OVER (PARTITION BY wb) AS n
       |  FROM m
       |), qs AS (
       |  SELECT unnest($qList) AS q
       |), cand AS (
       |  SELECT wb, q, n, bin, c, cum
       |  FROM cum, qs
       |  WHERE cum >= CAST(ceil(q * n) AS BIGINT)
       |)
       |SELECT wb, q, CAST(max(n) AS BIGINT) AS n,
       |  arg_min(${ParityMath.q6Sql(
            s"""CAST(bin AS DOUBLE) * $w + $w *
               |(CAST(ceil(q * n) AS DOUBLE) - CAST(cum - c AS DOUBLE))
               |/ CAST(c AS DOUBLE)""".stripMargin)}, bin) AS qtile_est
       |FROM cand
       |GROUP BY wb, q
       |ORDER BY wb, q""".stripMargin
  }

  /** User retention between consecutive time windows via KMV merges:
    * per-4h-bucket KMV buffers of the user-hash set, then every
    * adjacent bucket pair's overlap estimated from two k-sized arrays
    * - the sliding-set-operation counterpart of `q_hll_sliding`
    * (distinct per window) and the reason KMV earns its place next to
    * HLL: registers can't answer "how many of THIS window's users were
    * also in the last one" without inclusion-exclusion error blowup,
    * the buffers can. Exact adjacent-overlap (one h-keyed self-join of
    * the distinct relation - re-reading both windows, the cost the
    * sketch kills) is emitted alongside for error visibility.
    */
  def qKmvRetention(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    // materialized once: three consumers walk this relation (the KMV
    // buffer fold, the per-bucket sizes and BOTH sides of the exact
    // h-keyed self-join) - unchecked, each re-ran the scan + hash +
    // distinct shuffle
    val hs = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(ParityMath.fdivSql("graft_ts_us(ts)", s"${slideBucketUs}L")).as("b"),
        expr("graft_md5_48(CAST(user_id AS STRING))").as("h"))
      .distinct()
      .localCheckpoint()
    // buckets x k longs - small by construction, same local-pair-table
    // argument as qKmvJaccard: the adjacency math never duplicates the
    // corpus-scan subtree
    val s2 = spark; import s2.implicits._
    val kmLocal = kmvSets(hs, "b").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val km = kmLocal.toDF("b", "ks")
    val est = kmvPairMath(
        km.toDF("b_prev", "ka").join(km.toDF("b_next", "kb"),
          col("b_next") === col("b_prev") + 1))
      .select(col("b_prev"), col("b_next"),
        col("kmv_jaccard"), col("kmv_union_est"))
    val sizes = hs.groupBy(col("b")).agg(count(lit(1)).as("n"))
    val inter = hs.toDF("b_prev", "h").join(hs.toDF("b_next", "h2"),
        col("h") === col("h2") && col("b_next") === col("b_prev") + 1)
      .groupBy(col("b_prev"), col("b_next"))
      .agg(count(lit(1)).as("n_inter"))
    sizes.toDF("b_prev", "na").join(sizes.toDF("b_next", "nb"),
        col("b_next") === col("b_prev") + 1)
      .join(inter, Seq("b_prev", "b_next"), "left")
      .select(col("b_prev"), col("b_next"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        ParityMath.q6(coalesce(col("n_inter"), lit(0L)).cast("double")
          / (col("na") + col("nb")
            - coalesce(col("n_inter"), lit(0L))).cast("double"))
          .as("jaccard_exact"))
      .join(est, Seq("b_prev", "b_next"))
      .orderBy(col("b_prev"))
  }

  val qKmvRetentionSql: String = {
    val h48 = HashParity.hex48Duck("md5(CAST(user_id AS VARCHAR))")
    s"""WITH hs AS (
       |  SELECT DISTINCT ${ParityMath.fdivDuckSql("epoch_us(ts)", slideBucketUs.toString)} AS b, $h48 AS h
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), km AS (
       |  SELECT b, list_sort(list(h)) AS ks FROM (
       |    SELECT b, h,
       |      row_number() OVER (PARTITION BY b ORDER BY h) AS rn
       |    FROM hs
       |  ) WHERE rn <= $kmvK GROUP BY b
       |), sizes AS (
       |  SELECT b, count(*) AS n FROM hs GROUP BY b
       |), inter AS (
       |  SELECT a.b AS b_prev, x.b AS b_next, count(*) AS n_inter
       |  FROM hs a JOIN hs x ON a.h = x.h AND x.b = a.b + 1
       |  GROUP BY 1, 2
       |), ex AS (
       |  SELECT a.b AS b_prev, x.b AS b_next,
       |    CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |    ${ParityMath.q6Sql(
            """CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |/ CAST(a.n + x.n - coalesce(i.n_inter, 0) AS DOUBLE)"""
              .stripMargin)} AS jaccard_exact
       |  FROM sizes a JOIN sizes x ON x.b = a.b + 1
       |  LEFT JOIN inter i ON i.b_prev = a.b AND i.b_next = x.b
       |), est AS (
       |  SELECT p.b AS b_prev, q.b AS b_next, p.ks AS ka, q.ks AS kb,
       |    list_sort(list_distinct(p.ks || q.ks))[1:$kmvK] AS u
       |  FROM km p JOIN km q ON q.b = p.b + 1
       |), e2 AS (
       |  SELECT b_prev, b_next, u,
       |    len(list_filter(u,
       |      x -> list_contains(ka, x) AND list_contains(kb, x))) AS m
       |  FROM est
       |)
       |SELECT ex.b_prev, ex.b_next, ex.n_inter, ex.jaccard_exact,
       |  ${ParityMath.q6Sql(
            "CAST(m AS DOUBLE) / CAST(len(u) AS DOUBLE)")} AS kmv_jaccard,
       |  CASE WHEN len(u) < $kmvK THEN CAST(len(u) AS DOUBLE)
       |  ELSE ${ParityMath.q6Sql(
            s"""CAST(${kmvK - 1}.0 AS DOUBLE) * 281474976710656.0
               |/ CAST(u[len(u)] AS DOUBLE)""".stripMargin)} END
       |    AS kmv_union_est
       |FROM ex JOIN e2 USING (b_prev, b_next)
       |ORDER BY ex.b_prev""".stripMargin
  }

  val qKmvJaccardSql: String = {
    val h48 = HashParity.hex48Duck("md5(CAST(user_id AS VARCHAR))")
    s"""WITH hs AS (
       |  SELECT DISTINCT event_type, $h48 AS h FROM events
       |), km AS (
       |  SELECT event_type, list_sort(list(h)) AS ks FROM (
       |    SELECT event_type, h,
       |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |    FROM hs
       |  ) WHERE rn <= $kmvK GROUP BY event_type
       |), sizes AS (
       |  SELECT event_type, count(*) AS n FROM hs GROUP BY event_type
       |), inter AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    count(*) AS n_inter
       |  FROM hs a JOIN hs b
       |    ON a.h = b.h AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |), ex AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |    ${ParityMath.q6Sql(
            """CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |/ CAST(a.n + b.n - coalesce(i.n_inter, 0) AS DOUBLE)"""
              .stripMargin)} AS jaccard_exact
       |  FROM sizes a JOIN sizes b ON a.event_type < b.event_type
       |  LEFT JOIN inter i
       |    ON i.type_a = a.event_type AND i.type_b = b.event_type
       |), est AS (
       |  SELECT x.event_type AS type_a, y.event_type AS type_b,
       |    x.ks AS ka, y.ks AS kb,
       |    list_sort(list_distinct(x.ks || y.ks))[1:$kmvK] AS u
       |  FROM km x JOIN km y ON x.event_type < y.event_type
       |), e2 AS (
       |  SELECT type_a, type_b, u,
       |    len(list_filter(u,
       |      x -> list_contains(ka, x) AND list_contains(kb, x))) AS m
       |  FROM est
       |)
       |SELECT ex.type_a, ex.type_b, ex.n_inter, ex.jaccard_exact,
       |  ${ParityMath.q6Sql(
            "CAST(m AS DOUBLE) / CAST(len(u) AS DOUBLE)")} AS kmv_jaccard,
       |  CASE WHEN len(u) < $kmvK THEN CAST(len(u) AS DOUBLE)
       |  ELSE ${ParityMath.q6Sql(
            s"""CAST(${kmvK - 1}.0 AS DOUBLE) * 281474976710656.0
               |/ CAST(u[len(u)] AS DOUBLE)""".stripMargin)} END
       |    AS kmv_union_est
       |FROM ex JOIN e2 USING (type_a, type_b)
       |ORDER BY ex.type_a, ex.type_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // Production (sketch-only) faces
  // ------------------------------------------------------------------
  //
  // Every sketch query above emits its exact counterpart alongside the
  // estimate so the oracle gate can SEE the error - but at 100 TB the
  // exact adjunct (a countDistinct, a corpus self-join, a per-window
  // re-scan) IS the expensive pass the sketch exists to avoid. These
  // _prod faces are the deployment path: identical sketch state,
  // identical estimator (the shared helpers, so the two faces cannot
  // drift), no exact relation anywhere in the plan. Each still sits
  // under a full DuckDB oracle - the sketches are deterministic - so
  // "production" costs nothing in verifiability.

  /** HLL distinct estimate only: one narrow hash pass, one
    * (group, register) max, a groups-sized final agg. The exact
    * countDistinct - a second corpus-wide distinct shuffle - is gone.
    */
  def qHllDistinctProd(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val li = Graft.tableParallel(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"))
    val regs = hashRho(li)
      .groupBy(col("l_returnflag"), col("reg"))
      .agg(max(col("rho")).as("mj"))
    estimate(regs).orderBy(col("l_returnflag"))
  }

  val qHllDistinctProdSql: String = {
    val h48 = HashParity.hex48Duck("md5(CAST(l_orderkey AS VARCHAR))")
    s"""WITH h AS (
       |  SELECT l_returnflag, $h48 AS h FROM lineitem
       |), r AS (
       |  SELECT l_returnflag, h >> $wBits AS reg, h % $wMod AS w FROM h
       |), regs AS (
       |  SELECT l_returnflag, reg,
       |    max(CASE WHEN w = 0 THEN ${wBits + 1}
       |        ELSE ${wBits + 1} - length(bin(w)) END) AS mj
       |  FROM r GROUP BY l_returnflag, reg
       |), est AS (
       |  SELECT l_returnflag,
       |    sum(1.0 / CAST((CAST(1 AS BIGINT) << mj) AS DOUBLE))
       |      + CAST($hllM - count(*) AS DOUBLE) AS s_all,
       |    $hllM - count(*) AS v
       |  FROM regs GROUP BY l_returnflag
       |), e AS (
       |  SELECT l_returnflag, $alphaM2 / s_all AS e_raw, v FROM est
       |)
       |SELECT l_returnflag,
       |  ${ParityMath.q6Sql(
            s"""CASE WHEN e_raw <= $lcThreshold AND v > 0
               |THEN CAST(512.0 AS DOUBLE) * ln(CAST(512.0 AS DOUBLE) / CAST(v AS DOUBLE))
               |ELSE e_raw END""".stripMargin)} AS hll_est
       |FROM e
       |ORDER BY l_returnflag""".stripMargin
  }

  /** Sliding-window HLL estimate only: the six-bucket register merge
    * IS the whole cost - the per-window exact distinct (re-reading
    * every window's raw rows, 6x read amplification) is gone.
    */
  def qHllSlidingProd(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(ParityMath.fdivSql("graft_ts_us(ts)", s"${slideBucketUs}L")).as("b"),
        col("user_id"))
    // the register build is duplicate-blind (max over identical
    // (reg, rho) rows), so one (b, user) distinct pass feeds it AND
    // the occupied-window list - the raw stream crosses the network
    // once (guide §2.2, the adjunct twin's shape)
    val dis = ev.distinct().localCheckpoint()
    val regs = hashRho(dis.select(col("b").as("l_returnflag"),
        col("user_id").as("l_orderkey")))
      .select(col("l_returnflag").as("b"), col("reg"), col("rho"))
      .groupBy(col("b"), col("reg"))
      .agg(max(col("rho")).as("mj"))
    val wins = dis.select(col("b").as("wb")).distinct()
    val merged = fanToWindows(regs, wins)
      .groupBy(col("wb"), col("reg"))
      .agg(max(col("mj")).as("mj"))
    estimate(merged, "wb").orderBy(col("wb"))
  }

  val qHllSlidingProdSql: String = {
    val h48 = HashParity.hex48Duck("md5(CAST(user_id AS VARCHAR))")
    s"""WITH e AS (
       |  SELECT ${ParityMath.fdivDuckSql("epoch_us(ts)", slideBucketUs.toString)} AS b, user_id
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), r AS (
       |  SELECT b, h >> $wBits AS reg, h % $wMod AS w FROM (
       |    SELECT b, $h48 AS h FROM e
       |  )
       |), regs AS (
       |  SELECT b, reg,
       |    max(CASE WHEN w = 0 THEN ${wBits + 1}
       |        ELSE ${wBits + 1} - length(bin(w)) END) AS mj
       |  FROM r GROUP BY b, reg
       |), wins AS (
       |  SELECT DISTINCT b AS wb FROM e
       |), merged AS (
       |  SELECT w.wb, r.reg, max(r.mj) AS mj
       |  FROM regs r JOIN wins w ON r.b BETWEEN w.wb - $slideSpan AND w.wb
       |  GROUP BY w.wb, r.reg
       |), est AS (
       |  SELECT wb,
       |    sum(1.0 / CAST((CAST(1 AS BIGINT) << mj) AS DOUBLE))
       |      + CAST($hllM - count(*) AS DOUBLE) AS s_all,
       |    $hllM - count(*) AS v
       |  FROM merged GROUP BY wb
       |), e2 AS (
       |  SELECT wb, $alphaM2 / s_all AS e_raw, v FROM est
       |)
       |SELECT wb,
       |  ${ParityMath.q6Sql(
            s"""CASE WHEN e_raw <= $lcThreshold AND v > 0
               |THEN CAST(512.0 AS DOUBLE) * ln(CAST(512.0 AS DOUBLE) / CAST(v AS DOUBLE))
               |ELSE e_raw END""".stripMargin)} AS hll_est
       |FROM e2
       |ORDER BY wb""".stripMargin
  }

  /** CMS heavy hitters estimate only: candidates are the distinct
    * item set (one map-side-combinable distinct, no per-item exact
    * counting), probed against the broadcast counter matrix.
    */
  def qCmsTopkProd(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.table(spark, sfDir, "events").select(col("user_id"))
    val counters = cmsCounters(ev)
    val probes = ev.distinct()
      .select(col("user_id"), explode(array(cmsRows.map(lit(_)): _*)).as("r"))
      .withColumn("bkt", expr(bucketSpark("r")))
    probes.join(broadcast(counters), Seq("r", "bkt"))
      .groupBy(col("user_id"))
      .agg(min(col("c")).as("est_cnt"))
      .orderBy(col("est_cnt").desc, col("user_id"))
      .limit(cmsK)
  }

  val qCmsTopkProdSql: String = {
    val rowsList = cmsRows.mkString("[", ", ", "]")
    s"""WITH ev AS (
       |  SELECT user_id FROM events
       |), cells AS (
       |  SELECT u.r AS r, ${bucketDuck("u.r")} AS bkt
       |  FROM ev, unnest($rowsList) u(r)
       |), counters AS (
       |  SELECT r, bkt, count(*) AS c FROM cells GROUP BY r, bkt
       |), items AS (
       |  SELECT DISTINCT user_id FROM ev
       |), probes AS (
       |  SELECT user_id, u.r AS r, ${bucketDuck("u.r")} AS bkt
       |  FROM items, unnest($rowsList) u(r)
       |)
       |SELECT user_id, min(c) AS est_cnt
       |FROM probes JOIN counters USING (r, bkt)
       |GROUP BY user_id
       |ORDER BY est_cnt DESC, user_id
       |LIMIT $cmsK""".stripMargin
  }

  /** Sliding CMS heavy hitters estimate only. The per-window exact
    * count relation (a corpus x windows join + groupBy) is replaced by
    * the distinct (bucket, item) relation built ONCE - window
    * candidates are its union over the window's buckets - so the raw
    * corpus is never re-scanned per window.
    */
  def qCmsSlidingProd(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(ParityMath.fdivSql("graft_ts_us(ts)", s"${slideBucketUs}L")).as("b"),
        col("user_id"))
    // ONE per-(bucket, user) count pass serves counters, candidates
    // AND the occupied-window list (guide §2.2, the adjunct twin's
    // shape): the raw event stream crosses the network once
    val bu = ev.groupBy(col("b"), col("user_id"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val counters = bu
      .select(col("b"), col("user_id"), col("c"),
        explode(array(cmsRows.map(lit(_)): _*)).as("r"))
      .select(col("b"), col("r"), expr(bucketSpark("r")).as("bkt"),
        col("c"))
      .groupBy(col("b"), col("r"), col("bkt"))
      .agg(sum(col("c")).as("c"))
    val wins = bu.select(col("b").as("wb")).distinct()
    val merged = fanToWindows(counters, wins)
      .groupBy(col("wb"), col("r"), col("bkt"))
      .agg(sum(col("c")).as("c"))
    // candidates come from the distinct (bucket, item) relation built
    // ONCE; the window fan-out (explode + equi-join, `fanToWindows`)
    // then fans bucket-distinct rows, bounded by buckets x items, NOT
    // raw corpus rows - the twin's exact counts need the rows per
    // window, which is precisely the re-scan the production path
    // exists to avoid. The (wb, user) distinct runs BEFORE the 6-row
    // probe fan-out (so the fan and the est agg see each candidate
    // once), and its partitioning is reused by the min(c) agg below -
    // no exchange between them.
    val cand = fanToWindows(bu.select(col("b"), col("user_id")), wins)
      .select(col("wb"), col("user_id")).distinct()
    val probes = cand
      .select(col("wb"), col("user_id"),
        explode(array(cmsRows.map(lit(_)): _*)).as("r"))
      .withColumn("bkt", expr(bucketSpark("r")))
    val est = probes.join(broadcast(merged), Seq("wb", "r", "bkt"))
      .groupBy(col("wb"), col("user_id"))
      .agg(min(col("c")).as("est_cnt"))
    val wTop = Window.partitionBy(col("wb"))
      .orderBy(col("est_cnt").desc, col("user_id"))
    est.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= cmsSlideK).drop("rn")
      .orderBy(col("wb"), col("est_cnt").desc, col("user_id"))
  }

  val qCmsSlidingProdSql: String = {
    val rowsList = cmsRows.mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT ${ParityMath.fdivDuckSql("epoch_us(ts)", slideBucketUs.toString)} AS b, user_id
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), counters AS (
       |  SELECT b, r, bkt, count(*) AS c FROM (
       |    SELECT b, u.r AS r, ${bucketDuck("u.r")} AS bkt
       |    FROM e, unnest($rowsList) u(r)
       |  ) GROUP BY b, r, bkt
       |), wins AS (
       |  SELECT DISTINCT b AS wb FROM e
       |), merged AS (
       |  SELECT w.wb, c.r, c.bkt, CAST(sum(c.c) AS BIGINT) AS c
       |  FROM counters c JOIN wins w
       |    ON c.b BETWEEN w.wb - $slideSpan AND w.wb
       |  GROUP BY w.wb, c.r, c.bkt
       |), bi AS (
       |  SELECT DISTINCT b, user_id FROM e
       |), cand AS (
       |  SELECT DISTINCT w.wb, bi.user_id
       |  FROM bi JOIN wins w ON bi.b BETWEEN w.wb - $slideSpan AND w.wb
       |), probes AS (
       |  SELECT wb, user_id, u.r AS r, ${bucketDuck("u.r")} AS bkt
       |  FROM cand, unnest($rowsList) u(r)
       |), est AS (
       |  SELECT wb, user_id, min(c) AS est_cnt
       |  FROM probes JOIN merged USING (wb, r, bkt)
       |  GROUP BY wb, user_id
       |)
       |SELECT wb, user_id, est_cnt FROM (
       |  SELECT *, row_number() OVER (PARTITION BY wb
       |    ORDER BY est_cnt DESC, user_id) AS rn
       |  FROM est
       |) WHERE rn <= $cmsSlideK
       |ORDER BY wb, est_cnt DESC, user_id""".stripMargin
  }

  /** Join-cardinality estimate only: two narrow sketch passes and d
    * dot products of w-length vectors. The exact join size (two
    * corpus-wide groupBys + a key join) is gone - at 100 TB that
    * exact side is bigger than the join decision it informs.
    */
  def qCmsJoinCardProd(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("user_id").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"))
    val ca = cmsCounters(purchases).toDF("r", "bkt", "ca")
    val cb = cmsCounters(errors).toDF("r", "bkt", "cb")
    ca.join(cb, Seq("r", "bkt"))
      .groupBy(col("r"))
      .agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_pairs"))
  }

  val qCmsJoinCardProdSql: String = {
    val rowsList = cmsRows.mkString("[", ", ", "]")
    s"""WITH p AS (
       |  SELECT user_id FROM events
       |  WHERE user_id IS NOT NULL AND event_type = 'purchase'
       |), e AS (
       |  SELECT user_id FROM events
       |  WHERE user_id IS NOT NULL AND event_type = 'error'
       |), ca AS (
       |  SELECT r, bkt, count(*) AS ca FROM (
       |    SELECT u.r AS r, ${bucketDuck("u.r")} AS bkt
       |    FROM p, unnest($rowsList) u(r)
       |  ) GROUP BY r, bkt
       |), cb AS (
       |  SELECT r, bkt, count(*) AS cb FROM (
       |    SELECT u.r AS r, ${bucketDuck("u.r")} AS bkt
       |    FROM e, unnest($rowsList) u(r)
       |  ) GROUP BY r, bkt
       |), ip AS (
       |  SELECT ca.r, CAST(sum(ca.ca * cb.cb) AS BIGINT) AS ip
       |  FROM ca JOIN cb USING (r, bkt) GROUP BY ca.r
       |)
       |SELECT min(ip) AS est_pairs FROM ip""".stripMargin
  }

  /** F2 estimate only: the skew decision from the one-pass d x w
    * matrix, no exact groupBy anywhere.
    */
  def qCmsF2Prod(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val ev = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"))
    cmsCounters(ev).groupBy(col("r"))
      .agg(sum(col("c") * col("c")).as("ip"))
      .agg(min(col("ip")).as("est_f2"))
  }

  val qCmsF2ProdSql: String = {
    val rowsList = cmsRows.mkString("[", ", ", "]")
    s"""WITH ev AS (
       |  SELECT user_id FROM events WHERE user_id IS NOT NULL
       |), c AS (
       |  SELECT r, bkt, count(*) AS c FROM (
       |    SELECT u.r AS r, ${bucketDuck("u.r")} AS bkt
       |    FROM ev, unnest($rowsList) u(r)
       |  ) GROUP BY r, bkt
       |), ip AS (
       |  SELECT r, CAST(sum(c * c) AS BIGINT) AS ip FROM c GROUP BY r
       |)
       |SELECT min(ip) AS est_f2 FROM ip""".stripMargin
  }

  /** KMV pairwise Jaccard/union estimates only: one corpus scan
    * (hash + bounded per-group top-k), pair math on groups x k local
    * buffers. The exact-overlap adjunct - a corpus-wide hash SELF-JOIN
    * - is gone; that join is THE scale bottleneck the sketch removes.
    */
  def qKmvJaccardProd(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val hs = kmvHashes(Graft.tableParallel(spark, sfDir, "events"))
    val s2 = spark; import s2.implicits._
    val kmvLocal = kmvSets(hs).collect()
      .map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    kmvEstimates(kmvLocal.toDF("event_type", "ks"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val qKmvJaccardProdSql: String = {
    val h48 = HashParity.hex48Duck("md5(CAST(user_id AS VARCHAR))")
    s"""WITH hs AS (
       |  SELECT DISTINCT event_type, $h48 AS h FROM events
       |), km AS (
       |  SELECT event_type, list_sort(list(h)) AS ks FROM (
       |    SELECT event_type, h,
       |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |    FROM hs
       |  ) WHERE rn <= $kmvK GROUP BY event_type
       |), est AS (
       |  SELECT x.event_type AS type_a, y.event_type AS type_b,
       |    x.ks AS ka, y.ks AS kb,
       |    list_sort(list_distinct(x.ks || y.ks))[1:$kmvK] AS u
       |  FROM km x JOIN km y ON x.event_type < y.event_type
       |), e2 AS (
       |  SELECT type_a, type_b, u,
       |    len(list_filter(u,
       |      x -> list_contains(ka, x) AND list_contains(kb, x))) AS m
       |  FROM est
       |)
       |SELECT type_a, type_b,
       |  ${ParityMath.q6Sql(
            "CAST(m AS DOUBLE) / CAST(len(u) AS DOUBLE)")} AS kmv_jaccard,
       |  CASE WHEN len(u) < $kmvK THEN CAST(len(u) AS DOUBLE)
       |  ELSE ${ParityMath.q6Sql(
            s"""CAST(${kmvK - 1}.0 AS DOUBLE) * 281474976710656.0
               |/ CAST(u[len(u)] AS DOUBLE)""".stripMargin)} END
       |    AS kmv_union_est
       |FROM e2
       |ORDER BY type_a, type_b""".stripMargin
  }

  /** Retention estimates only: per-bucket KMV buffers + adjacent-pair
    * math on buckets x k local arrays. The exact adjacent-overlap
    * self-join (re-reading both windows per pair) is gone.
    */
  def qKmvRetentionProd(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.ensureConf(spark)
    val hs = Graft.tableParallel(spark, sfDir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr(ParityMath.fdivSql("graft_ts_us(ts)", s"${slideBucketUs}L")).as("b"),
        expr("graft_md5_48(CAST(user_id AS STRING))").as("h"))
      .distinct()
    val s2 = spark; import s2.implicits._
    val kmLocal = kmvSets(hs, "b").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val km = kmLocal.toDF("b", "ks")
    kmvPairMath(
        km.toDF("b_prev", "ka").join(km.toDF("b_next", "kb"),
          col("b_next") === col("b_prev") + 1))
      .select(col("b_prev"), col("b_next"),
        col("kmv_jaccard"), col("kmv_union_est"))
      .orderBy(col("b_prev"))
  }

  val qKmvRetentionProdSql: String = {
    val h48 = HashParity.hex48Duck("md5(CAST(user_id AS VARCHAR))")
    s"""WITH hs AS (
       |  SELECT DISTINCT ${ParityMath.fdivDuckSql("epoch_us(ts)", slideBucketUs.toString)} AS b, $h48 AS h
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), km AS (
       |  SELECT b, list_sort(list(h)) AS ks FROM (
       |    SELECT b, h,
       |      row_number() OVER (PARTITION BY b ORDER BY h) AS rn
       |    FROM hs
       |  ) WHERE rn <= $kmvK GROUP BY b
       |), est AS (
       |  SELECT p.b AS b_prev, q.b AS b_next, p.ks AS ka, q.ks AS kb,
       |    list_sort(list_distinct(p.ks || q.ks))[1:$kmvK] AS u
       |  FROM km p JOIN km q ON q.b = p.b + 1
       |), e2 AS (
       |  SELECT b_prev, b_next, u,
       |    len(list_filter(u,
       |      x -> list_contains(ka, x) AND list_contains(kb, x))) AS m
       |  FROM est
       |)
       |SELECT b_prev, b_next,
       |  ${ParityMath.q6Sql(
            "CAST(m AS DOUBLE) / CAST(len(u) AS DOUBLE)")} AS kmv_jaccard,
       |  CASE WHEN len(u) < $kmvK THEN CAST(len(u) AS DOUBLE)
       |  ELSE ${ParityMath.q6Sql(
            s"""CAST(${kmvK - 1}.0 AS DOUBLE) * 281474976710656.0
               |/ CAST(u[len(u)] AS DOUBLE)""".stripMargin)} END
       |    AS kmv_union_est
       |FROM e2
       |ORDER BY b_prev""".stripMargin
  }

  val qHllDistinctSql: String = {
    val h48 = HashParity.hex48Duck("md5(CAST(l_orderkey AS VARCHAR))")
    s"""WITH h AS (
       |  SELECT l_returnflag, $h48 AS h FROM lineitem
       |), r AS (
       |  SELECT l_returnflag, h >> $wBits AS reg, h % $wMod AS w FROM h
       |), regs AS (
       |  SELECT l_returnflag, reg,
       |    max(CASE WHEN w = 0 THEN ${wBits + 1}
       |        ELSE ${wBits + 1} - length(bin(w)) END) AS mj
       |  FROM r GROUP BY l_returnflag, reg
       |), est AS (
       |  SELECT l_returnflag,
       |    sum(1.0 / CAST((CAST(1 AS BIGINT) << mj) AS DOUBLE))
       |      + CAST($hllM - count(*) AS DOUBLE) AS s_all,
       |    $hllM - count(*) AS v
       |  FROM regs GROUP BY l_returnflag
       |), e AS (
       |  SELECT l_returnflag,
       |    $alphaM2 / s_all AS e_raw, v
       |  FROM est
       |), ex AS (
       |  SELECT l_returnflag,
       |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact
       |  FROM lineitem GROUP BY l_returnflag
       |)
       |SELECT e.l_returnflag, ex.n_exact,
       |  ${ParityMath.q6Sql(
            s"""CASE WHEN e.e_raw <= $lcThreshold AND e.v > 0
               |THEN CAST(512.0 AS DOUBLE) * ln(CAST(512.0 AS DOUBLE) / CAST(e.v AS DOUBLE))
               |ELSE e.e_raw END""".stripMargin)} AS hll_est
       |FROM e JOIN ex USING (l_returnflag)
       |ORDER BY e.l_returnflag""".stripMargin
  }
}
