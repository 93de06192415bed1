package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.{Round11, Round12, Spark, SqlFragments}
import graft.sources.Tables

/** Differential checks for the round-11/12 additions, matching the
  * Round10PropertySpec standard: each relational result is recomputed
  * with an independent driver-side brute-force reference over the same
  * sf0.001 tables (the DuckDB oracle replays the relational
  * formulation; these sweeps validate the MATH), plus physical-plan
  * audits asserting the five TPC-H-shape decorrelation queries
  * (q380–q384) never degrade to a nested-loop join.
  */
class Round12PropertySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def snapD(x: Double): Double =
    math.floor(x * 1073741824.0 + 0.5) / 1073741824.0

  /** Snapped SQL columns surface as DECIMAL (Spark parses the 2^30
    * literal as decimal — the Round10-established, oracle-proven snap
    * shape); read either runtime type as a double.
    */
  private def numD(r: org.apache.spark.sql.Row, i: Int): Double = r.get(i) match {
    case d: java.math.BigDecimal => d.doubleValue
    case d: Double => d
    case x => sys.error(s"unexpected numeric ${x.getClass}")
  }

  /** decimal(·,12) truncation of the dyadic grid vs the exact-double
    * reference: equal to 5e-13 absolute, compare at 1e-9 relative.
    */
  private def closeTo(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-9 * math.max(1.0, math.max(math.abs(got), math.abs(want)))

  // ------------------------------------------------- shared SQL fragments

  private val probes =
    Seq(0.1, 1.0 / 3, 2.5e-7, 0.75, 123.456789, -0.7, -1.0 / 7, 1e6 + 0.3)

  test("SqlFragments.snap composes as one operand: 1/snap(x) and snap(x)*2 equal driver snapD") {
    val ss = spark
    import ss.implicits._
    val rows = probes.toDF("x")
      .selectExpr("x",
        s"1.0 / ${SqlFragments.snap("x")} AS inv",
        s"${SqlFragments.snap("x")} * 2 AS dbl",
        s"${SqlFragments.snap("x")} AS sx")
      .collect()
    assert(rows.length == probes.size)
    rows.foreach { r =>
      val x = r.getDouble(0)
      assert(r.getDouble(3) == SqlFragments.snapD(x), s"snap($x)")
      assert(r.getDouble(1) == 1.0 / SqlFragments.snapD(x), s"1.0 / snap($x)")
      assert(r.getDouble(2) == SqlFragments.snapD(x) * 2, s"snap($x) * 2")
    }
    val viaColumn = probes.toDF("x").select(SqlFragments.snap(col("x"))).as[Double].collect()
    assert(viaColumn.toSeq == probes.map(SqlFragments.snapD))
  }

  test("SqlFragments.qi equals driver qiL; md5i equals the driver-side md5 prefix") {
    val ss = spark
    import ss.implicits._
    val q = probes.toDF("x").selectExpr("x", s"${SqlFragments.qi("x")} AS q").collect()
    q.foreach(r => assert(r.getLong(1) == SqlFragments.qiL(r.getDouble(0)), s"qi(${r.getDouble(0)})"))

    val seeds = Seq("", "a", "rr:keep:42", "jm:7", "key:123456789")
    val got = seeds.toDF("s")
      .selectExpr("s", s"${SqlFragments.md5i("s", Spark(""))} AS h")
      .as[(String, Long)].collect().toMap
    seeds.foreach { seed =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      assert(got(seed) == java.lang.Long.parseLong(hex.take(8), 16), s"md5i('$seed')")
    }
  }

  test("Spark dialect: closedRange includes both ends, epochUs is unix_micros, idiv is /") {
    val ss = spark
    import ss.implicits._
    val d = Spark("")
    for ((lo, hi) <- Seq((0, 0), (3, 7), (-2, 4))) {
      val viaCols = spark
        .sql(s"SELECT ${d.closedRange("lo", "hi")} AS v FROM (SELECT $lo AS lo, $hi AS hi)")
        .as[Int].collect().toSeq
      assert(viaCols == (lo to hi), s"closedRange(lo, hi) over ($lo, $hi)")
      val viaInts = spark.sql(s"SELECT ${d.closedRange(lo, hi)} AS v").as[Int].collect().toSeq
      assert(viaInts == (lo to hi), s"closedRange($lo, $hi)")
    }

    assert(d.epochUs("ts") == "unix_micros(ts)")
    val ts = Seq("2024-01-01 00:00:00", "2024-03-05 12:34:56.789012")
    val us = ts.toDF("s").selectExpr(
      s"${d.epochUs("CAST(s AS TIMESTAMP)")} AS a", "unix_micros(CAST(s AS TIMESTAMP)) AS b")
      .as[(Long, Long)].collect()
    us.foreach { case (a, b) => assert(a == b) }

    val pairs = Seq((0L, 1L), (7L, 2L), (86399999999L, 86400000000L),
      (1704067200123456L, 86400000000L), (Long.MaxValue, 3L))
    val q = pairs.toDF("a", "b").selectExpr("a", "b", s"a ${d.idiv} b AS q")
      .as[(Long, Long, Long)].collect()
    q.foreach { case (a, b, got) => assert(got == a / b, s"$a idiv $b") }
  }

  // ---------------------------------------------------------------- q402

  test("q402 bradley-terry == independent driver MM over brute-force duels") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_linenumber"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) % 8,
        math.round(r.getDouble(2) * 100) * 100 + r.getLong(0) % 10 * 10
          + r.getInt(3)))
    // brute-force duel matrix: all intra-order cross-team ordered pairs
    val byOrder = li.groupBy(_._1)
    val games0 = scala.collection.mutable.HashMap[(Long, Long), Long]()
    for ((_, rows) <- byOrder; x <- rows; y <- rows)
      if (x._2 != y._2 && x._3 > y._3)
        games0((x._2, y._2)) = games0.getOrElse((x._2, y._2), 0L) + 1
    val teams = games0.keysIterator.flatMap(k => Iterator(k._1, k._2)).toSeq.distinct
    def g(a: Long, b: Long): Long =
      games0.getOrElse((a, b), 0L) + games0.getOrElse((b, a), 0L)
    val wins: Map[Long, Double] =
      games0.toSeq.groupBy(_._1._1).map { case (a, xs) => a -> xs.map(_._2).sum.toDouble }
    var ratings: Map[Long, Double] = teams.map(_ -> 1.0).toMap
    for (_ <- 0 until 10) {
      // .toSeq: mapping a key SET to term values would dedup equal terms
      val den = ratings.keys.map { a =>
        a -> ratings.keys.toSeq.filter(b => b != a && g(a, b) > 0)
          .map(b => snapD(g(a, b).toDouble / (ratings(a) + ratings(b)))).sum
      }.filter(_._2 > 0).toMap
      val raw = den.flatMap { case (a, d) => wins.get(a).map(w => a -> snapD(w / d)) }
      val tot = raw.values.sum
      ratings = raw.map { case (a, r) => a -> snapD(8.0 * r / tot) }
    }
    val got = Round12.q402BradleyTerry.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._1).toSet === ratings.keySet)
    got.foreach { case (t, r, _) => assert(r === ratings(t), s"team $t rating") }
    // pos is the 1..n permutation ordered by (rating desc, team)
    val expectPos = got.sortBy { case (t, r, _) => (-r, t) }.map(_._1)
      .zipWithIndex.map { case (t, i) => t -> (i + 1).toLong }.toMap
    got.foreach { case (t, _, p) => assert(p === expectPos(t), s"team $t pos") }
    // MM renormalizes every iteration: ratings sum back to ~8
    assert(math.abs(got.map(_._2).sum - 8.0) < 1e-6)
  }

  // ---------------------------------------------------------------- q403

  test("q403 RAKE == driver brute-force phrase scoring") {
    val stop = Set("the", "of", "and", "a", "an", "in", "to", "is", "are",
      "for", "on", "with", "as", "by", "at", "or", "be", "it",
      "that", "this", "from", "was", "were", "which")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // (doc, pos, word) with posexplode semantics (positions count the
    // boundary empties split() emits), then the stopword/length filter
    val kept = docs.flatMap { case (id, text) =>
      text.toLowerCase.split("[^a-z]+", -1).zipWithIndex
        .filter { case (w, _) => w.nonEmpty && w.length >= 2 && !stop(w) }
        .map { case (w, p) => (id, p, w) }
    }
    // islands: pos - rank(pos) per doc over the kept words
    val withIsland = kept.groupBy(_._1).toSeq.flatMap { case (id, ws) =>
      ws.sortBy(_._2).zipWithIndex.map { case ((_, p, w), i) =>
        (id, p - (i + 1), p, w)
      }
    }
    val plen = withIsland.groupBy(t => (t._1, t._2)).map { case (k, xs) => k -> xs.size.toLong }
    val wscore = withIsland.groupBy(_._4).map { case (w, xs) =>
      val degree = xs.map(t => plen((t._1, t._2))).sum
      w -> (degree, xs.size.toLong)
    }
    val ptext = withIsland.groupBy(t => (t._1, t._2)).map { case (k, xs) =>
      val sorted = xs.sortBy(_._3)
      val phrase = sorted.map(_._4).mkString(" ")
      val score = snapD(sorted.map { t =>
        val (d, f) = wscore(t._4); d.toDouble / f
      }.sum)
      (k, phrase, score)
    }
    val expect = ptext.groupBy(t => (t._2, t._3))
      .map { case ((ph, sc), xs) => (ph, sc, xs.size.toLong) }
      .toSeq.sortBy { case (ph, sc, _) => (-sc, ph) }.take(15)
    val got = Round12.q403RakeKeywords.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), numD(r, 1), r.getLong(2)))
    assert(got.length === expect.length)
    got.zip(expect).foreach { case ((gp, gs, gn), (ep, es, en)) =>
      assert(gp === ep && gn === en, s"phrase row $gp vs $ep")
      assert(closeTo(gs, es), s"$gp score $gs vs $es")
    }
  }

  // ---------------------------------------------------------------- q404

  test("q404 hill numbers == driver reference over (region, p_type) counts") {
    val typed = Tables.lineitem(spark, sfDir).as("l")
      .join(Tables.supplier(spark, sfDir).as("s"), expr("s.s_suppkey = l.l_suppkey"))
      .join(Tables.nation(spark, sfDir).as("n"), expr("n.n_nationkey = s.s_nationkey"))
      .join(Tables.part(spark, sfDir).as("p"), expr("p.p_partkey = l.l_partkey"))
      .groupBy(col("n.n_regionkey").as("rk"), col("p.p_type"))
      .count()
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](2).longValue))
    val expect = typed.groupBy(_._1).map { case (rk, xs) =>
      val nt = xs.map(_._2).sum.toDouble
      val ps = xs.map(_._2 / nt)
      val q1 = snapD(math.exp(-snapD(ps.map(p => p * math.log(p)).sum)))
      val q2 = snapD(1.0 / snapD(ps.map(p => p * p).sum))
      rk -> (xs.size.toLong, q1, q2)
    }
    val got = Round12.q404HillDiversity.fn(spark, sfDir).collect()
    assert(got.map(_.getAs[Number](0).longValue).toSet === expect.keySet)
    got.foreach { r =>
      val (q0, q1, q2) = expect(r.getAs[Number](0).longValue)
      assert(r.getLong(1) === q0)
      // driver fold order differs from the engine's aggregation order —
      // the ln/exp terms are NOT grid-exact, so compare to 1e-9 rel
      assert(closeTo(numD(r, 2), q1))
      assert(closeTo(numD(r, 3), q2))
      // Hill ordering: q0 >= q1 >= q2 >= 1 always
      assert(r.getLong(1).toDouble >= numD(r, 2) - 1e-6)
      assert(numD(r, 2) >= numD(r, 3) - 1e-6)
      assert(numD(r, 3) >= 1.0 - 1e-9)
    }
  }

  // ---------------------------------------------------------------- q405

  test("q405 WoE/IV == driver reference; IV total non-negative") {
    val lab = Tables.lineitem(spark, sfDir).as("l")
      .join(Tables.orders(spark, sfDir).as("o"), expr("o.o_orderkey = l.l_orderkey"))
      .select(
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("bin"),
        expr("CASE WHEN datediff(l_shipdate, o_orderdate) > 25 THEN 1 ELSE 0 END").as("bad"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val byBin = lab.groupBy(_._1).map { case (b, xs) =>
      b -> (xs.count(_._2 == 0).toLong, xs.count(_._2 == 1).toLong)
    }
    val tg = byBin.values.map(_._1).sum.toDouble
    val tb = byBin.values.map(_._2).sum.toDouble
    val got = Round12.q405WoeIv.fn(spark, sfDir).collect()
    assert(got.map(_.getLong(0)).toSet === byBin.keySet)
    var ivTotal = 0.0
    got.foreach { r =>
      val (ng, nb) = byBin(r.getLong(0))
      assert(r.getLong(1) === ng && r.getLong(2) === nb)
      val woe = snapD(math.log((ng / tg) / (nb / tb)))
      val iv = snapD((ng / tg - nb / tb) * woe)
      assert(closeTo(numD(r, 3), woe), s"bin ${r.getLong(0)} woe")
      assert(closeTo(numD(r, 4), iv), s"bin ${r.getLong(0)} iv")
      ivTotal += iv
    }
    // each IV contribution is (p_g - p_b)·ln(p_g/p_b) ≥ 0, so the total is too
    assert(ivTotal >= 0.0)
    got.foreach(r => assert(numD(r, 4) >= -1e-9))
  }

  // ------------------------------------------------- q380–q384 plan audits

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  for ((name, q) <- Seq(
      "q380_min_cost_supplier" -> Round11.q380MinCostSupplier,
      "q381_top_supplier" -> Round11.q381TopSupplier,
      "q382_dominant_supplier" -> Round11.q382DominantSupplier,
      "q383_lone_late_supplier" -> Round11.q383LoneLateSupplier,
      "q384_dormant_prospects" -> Round11.q384DormantProspects)) {
    test(s"$name decorrelates: no nested-loop or cartesian join in the physical plan") {
      val plan = executedPlan(q.fn(spark, sfDir))
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a CartesianProduct:\n$plan")
      // a BNLJ is acceptable ONLY as the scalar-subquery shape: every
      // occurrence must pair with a single-row IdentityBroadcastMode
      // exchange (one broadcast row joined to the stream — constant
      // cost at any scale); a keyed BNLJ would be a scale killer
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      val scalarBcast = "IdentityBroadcastMode".r.findAllIn(plan).length
      assert(bnlj <= scalarBcast,
        s"$name planned a non-scalar BroadcastNestedLoopJoin:\n$plan")
    }
  }

  // ------------------------------------------------------ q401 plan audit

  test("q401 runs through Top1WindowRewrite: aggregate plan, no Window sort") {
    val df = Round12.q401Top1Rewrite.fn(spark, sfDir)
    // q401 localCheckpoints (the conf is scoped), so audit the shape the
    // conf produces directly instead
    spark.conf.set(graft.plans.Top1WindowRewrite.EnabledConf, "true")
    try {
      import org.apache.spark.sql.expressions.{Window => W}
      val o = Tables.orders(spark, sfDir)
      val plan = o.withColumn("rn",
          row_number().over(W.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
        .filter(col("rn") === 1)
        .queryExecution.optimizedPlan.toString()
      assert(!plan.contains("Window"), s"rewrite did not fire:\n$plan")
      assert(plan.contains("max_by"), s"no max_by aggregate:\n$plan")
    } finally spark.conf.unset(graft.plans.Top1WindowRewrite.EnabledConf)
    assert(df.count() > 0)
  }
}
