package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16 optimization equivalence pins: each restructured internal
  * must compute the SAME relation as the shape it replaced — checked
  * here against a direct reimplementation of the old plan on planted
  * fixtures (the oracle gate checks end-to-end results; these specs
  * pin the internals so a future edit can't silently drift them).
  */
class OptimizationEquivalenceSpec extends SparkSpec {

  test("fanToWindows ≡ the BETWEEN range join it replaced") {
    import spark.implicits._
    // buckets with gaps so candidate windows that are NOT occupied
    // must drop out of the fan
    val rows = Seq((1L, "a"), (1L, "b"), (3L, "a"), (7L, "c"),
      (8L, "a"), (14L, "b")).toDF("b", "u")
    val wins = rows.select(col("b").as("wb")).distinct()
    val fan = Sketches.fanToWindows(rows, wins)
      .select(col("wb"), col("b"), col("u"))
    val nlj = rows.join(wins,
        col("b").between(col("wb") - Sketches.slideSpan, col("wb")))
      .select(col("wb"), col("b"), col("u"))
    assert(fan.exceptAll(nlj).isEmpty && nlj.exceptAll(fan).isEmpty)
    assert(fan.count() === nlj.count())
  }

  test("single-shuffle sort variants ≡ per-pair global ranks") {
    import spark.implicits._
    // duplicate sort keys force the (s, a, o) tie-break to matter
    val state = Seq(
      (1L, "buy", 10L, 3L, 100L), (2L, "buy", 11L, 3L, 100L),
      (1L, "err", 12L, 1L, 300L), (3L, "buy", 10L, 2L, 200L),
      (2L, "err", 13L, 2L, 100L))
      .toDF("s", "a", "o", "cnt", "last_t")
    val got = graft.core.CountQueries.sortedVariantsFrom(state)
      .orderBy(col("ordering"), col("rk"))
      .collect().map(_.toSeq).toSeq
    // naive reference: one global window per variant direction
    import org.apache.spark.sql.expressions.Window
    val expected = graft.core.CountQueries.sortVariants.flatMap {
      case (name, order) =>
        state.withColumn("rk",
            row_number().over(Window.orderBy(order: _*)).cast("long"))
          .select(lit(name).as("ordering"), col("rk"), col("s"),
            col("a"), col("o"), col("cnt"), col("last_t"))
          .collect().map(_.toSeq).toSeq
    }.sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
    assert(got === expected)
  }

  test("pre-fan aggregation ≡ raw-row window fan (sliding exact adjuncts)") {
    import spark.implicits._
    // heavy per-bucket key repetition + occupancy gaps, so the
    // pre-aggregation actually collapses rows AND unoccupied candidate
    // windows must still drop out
    val ev = Seq((1L, 10L), (1L, 10L), (1L, 11L), (3L, 10L), (3L, 10L),
      (3L, 10L), (7L, 12L), (8L, 10L), (8L, 10L), (14L, 11L), (14L, 11L))
      .toDF("b", "user_id")
    val wins = ev.select(col("b").as("wb")).distinct()
    // q_cms_sliding items: fan per-(b,user) counts then sum ≡ fan raw
    // rows then count
    val raw = Sketches.fanToWindows(ev, wins)
      .groupBy(col("wb"), col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
    val agg = Sketches.fanToWindows(
        ev.groupBy(col("b"), col("user_id")).agg(count(lit(1)).as("c")),
        wins)
      .groupBy(col("wb"), col("user_id"))
      .agg(sum(col("c")).as("exact_cnt"))
    assert(raw.exceptAll(agg).isEmpty && agg.exceptAll(raw).isEmpty)
    // q_hll_sliding exact: fan distinct (b,user) then countDistinct ≡
    // fan raw rows then countDistinct
    val rawD = Sketches.fanToWindows(ev, wins)
      .groupBy(col("wb")).agg(countDistinct(col("user_id")).as("n"))
    val aggD = Sketches.fanToWindows(ev.distinct(), wins)
      .groupBy(col("wb")).agg(countDistinct(col("user_id")).as("n"))
    assert(rawD.exceptAll(aggD).isEmpty && aggD.exceptAll(rawD).isEmpty)
  }

  test("frontier-restricted pointer jump ≡ brute-force components on " +
       "a mixed topology") {
    import spark.implicits._
    // chain (worst case for propagation) + star + triangle-with-tail +
    // seeded random edges: exercises the stale-target case (a holder
    // adopts a pointer whose target's label stopped changing rounds
    // ago) under a frontier-restricted propagation; the jump asks every
    // node's target, and the loop takes 5 rounds here
    val rnd = new scala.util.Random(42)
    val edges =
      (0L until 30L).map(i => (i, i + 1)) ++            // chain 0..30
      (101L to 110L).map(l => (100L, l)) ++             // star
      Seq((200L, 201L), (201L, 202L), (202L, 200L), (202L, 203L)) ++
      (0 until 40).map { _ =>
        val a = 300L + rnd.nextInt(25); val b = 300L + rnd.nextInt(25)
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2)
    val df = edges.toDF("doc_a", "doc_b")
    val (out, rounds) = graft.pipeline.Dedup.resolveComponents(spark, df)
    // brute-force union-find on the driver
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val exp = parent.keys.map(k => k -> find(k)).toMap
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exp, "labels must be the component minimum")
    assert(rounds <= 5, s"the jump lost its round count: $rounds")
  }

  test("single-shuffle spearman ≡ the two-pass rank formulation") {
    import spark.implicits._
    // ties on both axes; negative values; skew
    val pc = Seq((1L, 5L, 3L), (1L, 7L, 1L), (2L, 5L, 2L),
      (4L, -1L, 1L), (4L, 7L, 5L), (-3L, 5L, 2L))
      .toDF("x", "y", "k")
    val got = Tpch.spearmanFromPairCounts(pc).collect()
    // reference: tie-averaged doubled ranks via windows per axis
    import org.apache.spark.sql.expressions.Window
    def ranks(cn: String) = {
      val vc = pc.groupBy(col(cn)).agg(sum(col("k")).as("c"))
      val w = Window.orderBy(col(cn))
      vc.withColumn("lo",
          coalesce(sum(col("c")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col(cn), (lit(2L) * col("lo") + col("c") + 1L)
          .as(s"r2_$cn"))
    }
    val d14 = "decimal(14,0)"
    val exp = pc.join(ranks("x"), "x").join(ranks("y"), "y")
      .select(col("k").cast(d14).as("k"),
        col("r2_x").cast(d14).as("rx"), col("r2_y").cast(d14).as("ry"))
      .agg(sum(col("k")).cast("long").as("n"),
        sum(col("k") * col("rx")).as("sx"),
        sum(col("k") * col("ry")).as("sy"),
        sum(col("k") * (col("rx") * col("ry"))).as("sxy"),
        sum(col("k") * (col("rx") * col("rx"))).as("sxx"),
        sum(col("k") * (col("ry") * col("ry"))).as("syy"))
      .collect().head
    val n = exp.getLong(0)
    def d(i: Int) = exp.getDecimal(i).doubleValue()
    val num = n.toDouble * d(3) - d(1) * d(2)
    val den = math.sqrt(n.toDouble * d(4) - d(1) * d(1)) *
      math.sqrt(n.toDouble * d(5) - d(2) * d(2))
    val expRho = math.floor(num / den * 1e6 + 0.5) / 1e6
    assert(got.length === 1)
    assert(got.head.getLong(0) === n)
    assert(got.head.getDouble(1) === expRho)
  }
}
