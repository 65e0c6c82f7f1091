package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsofJoin, RangeJoin, Rolling, ScalableRank, SeriesOps, SkewJoin}

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import TestSession.sf

  test("exact quantiles are the k = ceil(q·n) order statistics") {
    import spark.implicits._
    val df = Seq(5L, 1L, 9L, 3L, 3L, 7L, 2L, 8L, 4L, 6L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = graft.operators.Quantiles
      .exactQuantiles(df, "v", Seq(0.1, 0.25, 0.5, 1.0), tiebreakers = Seq("id"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // sorted: 1,2,3,3,4,5,6,7,8,9 (n=10); k = ceil(q*10)
    assert(got == Map(0.1 -> 1L, 0.25 -> 3L, 0.5 -> 4L, 1.0 -> 9L))
    // duplicates: the reported VALUE is rank-determined regardless of tiebreak
    val dup = Seq.fill(100)(42L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val q50 = graft.operators.Quantiles
      .exactQuantiles(dup, "v", Seq(0.5), tiebreakers = Seq("id"))
      .collect().head.getLong(1)
    assert(q50 == 42L)
  }

  test("percentile_approx brackets the exact order statistics on real data") {
    // the exact operator is the ground truth the approximate one is
    // judged against — rank error must stay within the accuracy contract
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = docs.count()
    val qs = Seq(0.25, 0.5, 0.9)
    val exact = graft.operators.Quantiles
      .exactQuantiles(docs, "n_chars", qs, tiebreakers = Seq("doc_id"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val approx = docs.select(
        F.percentile_approx(F.col("n_chars"), F.array(qs.map(F.lit): _*),
          F.lit(100)).as("p")).head().getSeq[Long](0)
    qs.zip(approx).foreach { case (q, a) =>
      // values at ranks within n/100 of the exact rank bracket the answer
      val sorted = docs.select("n_chars").collect().map(_.getLong(0)).sorted
      val k = math.max(1, math.ceil(q * n).toInt)
      val lo = sorted(math.max(0, k - 1 - (n / 100).toInt))
      val hi = sorted(math.min(sorted.length - 1, k - 1 + (n / 100).toInt))
      assert(a >= lo && a <= hi, s"q=$q approx=$a not in [$lo, $hi] (exact=${exact(q)})")
    }
  }

  test("grouped quantiles: hot-group fallback equals the window path exactly") {
    import spark.implicits._
    // group "big" is pathologically hot (deterministically scrambled so the
    // fallback's range shuffle does real ordering work); "small" is cold;
    // a NULL group key exercises the null-safe hot routing
    val rows = (0L until 5000L).map(i =>
      (Some("big"), i, (i * 2654435761L) % 5000L)) ++
      Seq((Some("small"), 9001L, 7L), (Some("small"), 9002L, 3L),
        (Option.empty[String], 9003L, 1L), (Option.empty[String], 9004L, 2L))
    val df = rows.toDF("g", "id", "v")
    val qs = Seq(0.25, 0.5, 0.99, 1.0)
    def run(threshold: Long) = graft.operators.Quantiles
      .exactQuantilesByGroup(df, "g", "v", qs,
        tiebreakers = Seq("id"), hotGroupThreshold = threshold)
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1), r.getLong(2)))
      .toSet
    val window = run(Long.MaxValue)   // pure keyed-window plan
    val hybrid = run(10L)             // "big" (and the NULL group? no: 2 rows) -> global path
    assert(hybrid == window, s"hybrid $hybrid vs window $window")
    // and the values themselves are the right order statistics
    assert(window.contains((Some("big"), 0.5, 2499L)) ||
      window.contains((Some("big"), 0.5, 2500L))) // k = ceil(.5*5000) = 2500 -> 2499 in 0..4999 scramble
    assert(window.contains((Some("small"), 1.0, 7L)))
    assert(window.contains((None, 1.0, 2L)))
    // a 1-row hot threshold routes even the NULL group through the fallback
    assert(run(1L) == window)
  }

  test("grouped quantiles: MANY hot groups ride one composite pass, not a plan bomb") {
    import spark.implicits._
    // 100 groups of 3 rows each with a 2-row threshold: every group is
    // "hot" simultaneously — the shape that would have built a 100-way
    // union of per-group subplans must now ride ONE composite-key rank
    // pass and still produce every group's exact order statistics
    val df = (0L until 300L).map(i => (s"g${i % 100}", i, i % 7)).toDF("g", "id", "v")
    val hot = graft.operators.Quantiles.exactQuantilesByGroup(
        df, "g", "v", Seq(0.5, 1.0), tiebreakers = Seq("id"),
        hotGroupThreshold = 2L)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val window = graft.operators.Quantiles.exactQuantilesByGroup(
        df, "g", "v", Seq(0.5, 1.0), tiebreakers = Seq("id"),
        hotGroupThreshold = Long.MaxValue)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(hot.size == 200 && hot == window)
  }

  test("withRankByGroup: per-group ordinal ranks match the keyed window exactly") {
    import spark.implicits._
    // groups of wildly different sizes + a NULL group key, scrambled values
    val rows = (0L until 4000L).map(i =>
      (Some(s"g${i % 3}"), i, (i * 2654435761L) % 1000L)) ++
      (0L until 5L).map(i => (Option.empty[String], 9000L + i, 5L - i))
    val df = rows.toDF("g", "id", "v").repartition(7)
    val got = graft.operators.ScalableRank
      .withRankByGroup(df, "g", "v", "r", tiebreakers = Seq("id"))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    import org.apache.spark.sql.expressions.Window
    val expect = df.withColumn("r",
        F.row_number().over(Window.partitionBy("g").orderBy("v", "id")).cast("long"))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got == expect)
  }

  test("withRankByGroup method=min: per-group MIN-ranks match the keyed " +
    "window rank() with ties") {
    import spark.implicits._
    // heavy deliberate ties (v = i % 7) across groups of different sizes
    // + a NULL group key — row_number would split each tie block
    val rows = (0L until 4000L).map(i =>
      (Some(s"g${i % 3}"), i, i % 7L)) ++
      (0L until 6L).map(i => (Option.empty[String], 9000L + i, i % 2L))
    val df = rows.toDF("g", "id", "v").repartition(7)
    val got = graft.operators.ScalableRank
      .withRankByGroup(df, "g", "v", "r", method = "min")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    import org.apache.spark.sql.expressions.Window
    val expect = df.withColumn("r",
        F.rank().over(Window.partitionBy("g").orderBy("v")).cast("long"))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got == expect)
  }

  test("winsorizeByGroup: each group clips into its OWN window; NULLs and " +
    "empty groups pass through") {
    import spark.implicits._
    // group a: 1..20 (window [2, 18] at p10/p90); group b: 101..120
    // (window [102, 118]) — a global clip would never move b's low end
    val rows = (1 to 20).map(i => ("a", i.toLong, Some(i.toLong))) ++
      (1 to 20).map(i => ("b", 100L + i, Some(100L + i))) :+
      (("a", 99L, Option.empty[Long]))
    val df = rows.toDF("g", "id", "v")
    val got = graft.operators.Quantiles.winsorizeByGroup(
        df, "g", "v", pLo = 0.1, pHi = 0.9, tiebreakers = Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2)))
      .toMap
    // per-group == the single-group operator on that group alone
    for (g <- Seq("a", "b")) {
      val single = graft.operators.Quantiles.winsorize(
          df.where(F.col("g") === g), "v", pLo = 0.1, pHi = 0.9,
          tiebreakers = Seq("id"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2)))
        .toMap
      single.foreach { case (k, want) => assert(got(k) == want, k.toString) }
    }
    assert(got(("a", 1L)) == Some(2L) && got(("a", 20L)) == Some(18L))
    assert(got(("b", 101L)) == Some(102L) && got(("b", 120L)) == Some(118L))
    assert(got(("a", 99L)).isEmpty, "NULL value must stay NULL")
  }

  test("winsorize clips into the quantile window and passes NULLs through") {
    import spark.implicits._
    val df = (Seq.tabulate(20)(i => (i.toLong, Some((i + 1).toLong))) :+
      (99L, Option.empty[Long])).toDF("id", "v")
    val got = graft.operators.Quantiles
      .winsorize(df, "v", pLo = 0.1, pHi = 0.9, tiebreakers = Seq("id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // NULLs are ignored by the quantiles (SQL convention): n=20 non-null,
    // k_lo=ceil(.1*20)=2 -> bound 2, k_hi=ceil(.9*20)=18 -> bound 18
    assert(got(0L) == Some(2L) && got(1L) == Some(2L))
    assert(got(2L) == Some(3L) && got(10L) == Some(11L) && got(16L) == Some(17L))
    assert(got(17L) == Some(18L) && got(18L) == Some(18L) && got(19L) == Some(18L))
    // the regression: a NULL value must stay NULL, not become the hi bound
    assert(got(99L).isEmpty, s"NULL was rewritten to ${got(99L)}")
    // and a NULL never shifts medianMad's order statistics
    val mm = graft.operators.Quantiles.medianMad(df, "v", tiebreakers = Seq("id"))
      .collect().head
    assert(mm.getLong(0) == 10L, s"median drifted: $mm") // k=ceil(.5*20)=10
  }

  test("grouped exact quantiles pick per-group order statistics") {
    import spark.implicits._
    val df = (Seq.tabulate(10)(i => ("a", i.toLong, (i + 1).toLong * 10)) ++
      Seq(("b", 100L, 7L), ("b", 101L, 3L), ("b", 102L, 5L)))
      .toDF("g", "id", "v")
    val got = graft.operators.Quantiles
      .exactQuantilesByGroup(df, "g", "v", Seq(0.5, 1.0), tiebreakers = Seq("id"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // a: 10..100 → p50 = 5th = 50, p100 = 100; b: 3,5,7 → p50 = ceil(1.5)=2nd = 5
    assert(got == Map(("a", 0.5) -> 50L, ("a", 1.0) -> 100L,
      ("b", 0.5) -> 5L, ("b", 1.0) -> 7L))
  }

  test("scalable rank equals the single-window rank for all methods") {
    val df = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_acctbal")
    import org.apache.spark.sql.expressions.Window
    val expectMin = df.withColumn("r", F.rank().over(Window.orderBy("c_acctbal")))
      .select("c_custkey", "r").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val gotMin = ScalableRank.withRank(df, "c_acctbal", "r", "min")
      .select("c_custkey", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotMin == expectMin)

    val expectDense = df.withColumn("r", F.dense_rank().over(Window.orderBy(F.col("c_acctbal").desc)))
      .select("c_custkey", "r").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val gotDense = ScalableRank.withRank(df, "c_acctbal", "r", "dense", descending = true)
      .select("c_custkey", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDense == expectDense)

    val gotOrd = ScalableRank.withRank(df, "c_acctbal", "r", "ordinal",
      tiebreakers = Seq("c_custkey"))
      .select("c_custkey", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectOrd = df.withColumn("r",
      F.row_number().over(Window.orderBy(F.col("c_acctbal").asc, F.col("c_custkey").asc)))
      .select("c_custkey", "r").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(gotOrd == expectOrd)
  }

  test("scalable rank handles null keys (dense offsets count the null group)") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.read.parquet(s"$sf/customer.parquet")
      .select(F.col("c_custkey"),
        F.when(F.col("c_custkey") % 5 === 0, null)
          .otherwise(F.col("c_acctbal")).as("bal"))
    for (m <- Seq("min", "dense")) {
      val fn = if (m == "min") F.rank() else F.dense_rank()
      val expect = df.withColumn("r", fn.over(Window.orderBy("bal")))
        .select("c_custkey", "r").collect()
        .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      val got = ScalableRank.withRank(df, "bal", "r", m)
        .select("c_custkey", "r").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"method=$m")
    }
  }

  test("ranks keep input columns named pid and offset, with their values") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    val df = spark.range(0, 400).select(F.col("id"),
        (F.col("id") % 37).as("v"), (F.col("id") % 3).as("pid"),
        (F.col("id") % 5).as("offset"), (F.col("id") % 2).as("g"))
      .repartition(4)
    // id → (pid, offset, r, c?), c absent (0) where the operator has none
    def byId(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
      r.getAs[Long]("id") -> (r.getAs[Long]("pid"), r.getAs[Long]("offset"),
        r.getAs[Long]("r"),
        if (r.schema.fieldNames.contains("c")) r.getAs[Long]("c") else 0L)
    }.toMap
    def want(fn: Column, w: WindowSpec) =
      byId(df.withColumn("r", fn.over(w).cast("long")))
    val byV = Window.orderBy("v")
    val cases = Seq(
      ScalableRank.withRank(df, "v", "r", "min") -> want(F.rank(), byV),
      ScalableRank.withRank(df, "v", "r", "dense") -> want(F.dense_rank(), byV),
      ScalableRank.withRank(df, "v", "r", "ordinal", tiebreakers = Seq("id")) ->
        want(F.row_number(), Window.orderBy("v", "id")),
      ScalableRank.withMinRankAndTies(df, "v", "r", "c") ->
        byId(df.withColumn("r", F.rank().over(byV).cast("long"))
          .withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("v")))),
      ScalableRank.withRankByGroup(df, "g", "v", "r", tiebreakers = Seq("id")) ->
        want(F.row_number(), Window.partitionBy("g").orderBy("v", "id")),
      graft.core.TableFrame.fromDF(df).with_row_index(Seq("v", "id"), "r").df
        .withColumn("r", F.col("r") + 1L) ->
        want(F.row_number(), Window.orderBy("v", "id")))
    for (((got, exp), i) <- cases.zipWithIndex) {
      assert(got.columns.count(Set("pid", "offset")) == 2, s"case $i: ${got.columns.toSeq}")
      assert(byId(got) == exp, s"case $i")
    }
  }

  test("salted join matches plain join on skewed data") {
    import spark.implicits._
    // hot key: 90% of left rows share key 1
    val left = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "v")
    val right = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).count()
    val salted = SkewJoin.saltedJoin(left, right, Seq("k")).count()
    assert(salted == plain)
    val plainLeft = left.join(right.filter($"k" > 500), Seq("k"), "left").count()
    val saltedLeft = SkewJoin.saltedJoin(left, right.filter($"k" > 500), Seq("k"), "left").count()
    assert(saltedLeft == plainLeft)
  }

  test("asof join matches brute-force semantics for all strategies") {
    import spark.implicits._
    val left = Seq((1, 10L, "a"), (1, 20L, "b"), (1, 25L, "c"), (2, 5L, "d"),
      (2, 100L, "e"), (3, 7L, "f")).toDF("k", "t", "lv")
    val right = Seq((1, 5L, 1.0), (1, 20L, 2.0), (1, 30L, 3.0), (2, 50L, 4.0))
      .toDF("k", "t", "rv")
    def got(strategy: String, tol: Option[Long] = None): Map[String, Option[Double]] =
      AsofJoin.asofJoin(left, right, "t", Seq("k"), strategy, tol)
        .collect().map(r => r.getAs[String]("lv") ->
          Option(r.getAs[Any]("rv")).map(_.asInstanceOf[Double])).toMap
    // backward: latest right with rt <= lt
    assert(got("backward") == Map("a" -> Some(1.0), "b" -> Some(2.0),
      "c" -> Some(2.0), "d" -> None, "e" -> Some(4.0), "f" -> None))
    // forward: earliest right with rt >= lt
    assert(got("forward") == Map("a" -> Some(2.0), "b" -> Some(2.0),
      "c" -> Some(3.0), "d" -> Some(4.0), "e" -> None, "f" -> None))
    // nearest: closer of the two, ties backward (t=25: back@20 dist 5, fwd@30 dist 5)
    assert(got("nearest") == Map("a" -> Some(1.0), "b" -> Some(2.0),
      "c" -> Some(2.0), "d" -> Some(4.0), "e" -> Some(4.0), "f" -> None))
    // tolerance nulls matches farther than the bound
    assert(got("backward", Some(3L)) == Map("a" -> None, "b" -> Some(2.0),
      "c" -> None, "d" -> None, "e" -> None, "f" -> None))
    // left row count is always preserved
    assert(AsofJoin.asofJoin(left, right, "t", Seq("k"), "nearest").count() == left.count())
  }

  test("range join equals cross-join + between filter") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val bands = spark.read.parquet(s"$sf/customer.parquet")
      .filter(F.col("c_custkey") <= 30 && F.col("c_acctbal") > 0)
      .select(F.col("c_custkey"), (F.col("c_acctbal") * 10).as("lo"),
        (F.col("c_acctbal") * 10 + 2000).as("hi"))
    val expect = orders.crossJoin(bands)
      .filter(F.col("o_totalprice") >= F.col("lo") && F.col("o_totalprice") <= F.col("hi"))
      .count()
    for (w <- Seq(100L, 2000L, 100000L))
      assert(RangeJoin.rangeJoin(orders, "o_totalprice", bands, "lo", "hi", w).count()
        == expect, s"bucketWidth=$w")
  }

  test("interpolate fills between knowns, leaves edges null") {
    import spark.implicits._
    val df = Seq((1, 1L, Some(10.0)), (1, 2L, None), (1, 3L, None),
      (1, 4L, Some(40.0)), (1, 5L, None), (2, 1L, None), (2, 2L, Some(7.0)))
      .toDF("k", "t", "v")
    val out = SeriesOps.interpolate(df, "v", "t", Seq("k"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        Option(r.getAs[Any]("v")).map(_.asInstanceOf[Double])).toMap
    assert(out((1, 2L)) == Some(20.0) && out((1, 3L)) == Some(30.0))
    assert(out((1, 5L)).isEmpty && out((2, 1L)).isEmpty)
    assert(out((1, 1L)) == Some(10.0) && out((2, 2L)) == Some(7.0))
  }

  test("row index is contiguous and order-correct; approx distinct within rsd") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val idx = SeriesOps.withRowIndex(c, Seq("c_acctbal", "c_custkey"), "idx")
      .orderBy("idx").select("idx").collect().map(_.getLong(0))
    assert(idx.toSeq == (0L until c.count()).toSeq)

    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exact = li.select(F.countDistinct("l_partkey")).head().getLong(0)
    val approx = li.select(F.approx_count_distinct("l_partkey", 0.05)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("rolling range window and dynamic buckets agree with brute force") {
    import spark.implicits._
    val df = Seq((1, 0L, 1.0), (1, 10L, 2.0), (1, 11L, 3.0), (1, 30L, 4.0),
      (2, 5L, 5.0)).toDF("k", "t", "v")
    val roll = Rolling.rolling(df, "t", 20L, Seq("k"), "v",
        Map("s" -> ((c, w) => F.sum(c).over(w))))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getAs[Double]("s")).toMap
    assert(roll((1, 11L)) == 6.0) // frame [-8,11] → t=0,10,11 → 1+2+3
    assert(roll((1, 30L)) == 7.0) // frame [11,30] → t=11,30 → 3+4
    val dyn = Rolling.groupByDynamic(df, "t", 15L, Seq("k"),
        Seq(F.sum("v").as("s")))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getAs[Double]("s")).toMap
    assert(dyn((1, 0L)) == 6.0 && dyn((1, 30L)) == 4.0 && dyn((2, 0L)) == 5.0)
  }

  test("z-order key matches a bit-twiddling reference implementation") {
    import spark.implicits._
    import graft.operators.ZOrder
    val bits = 8
    val bounds = Seq((0.0, 100.0), (0.0, 1.0))
    def refQuant(x: Double, lo: Double, hi: Double): Long =
      math.floor((math.min(math.max(x, lo), hi) - lo) / (hi - lo)
        * ((1L << bits) - 1)).toLong
    def refKey(x: Double, y: Double): Long = {
      val (qx, qy) = (refQuant(x, 0.0, 100.0), refQuant(y, 0.0, 1.0))
      (0 until bits).map(b =>
        (((qx >> b) & 1L) << (b * 2)) | (((qy >> b) & 1L) << (b * 2 + 1))).sum
    }
    val pts = Seq((0.0, 0.0), (100.0, 1.0), (50.0, 0.5), (99.99, 0.01),
      (13.7, 0.42), (-5.0, 2.0) /* clamps to corners */)
    val got = pts.toDF("x", "y")
      .select(ZOrder.zKey(Seq(F.col("x"), F.col("y")), bounds, bits).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == pts.map { case (x, y) => refKey(x, y) })
    // full-scale corner interleaves to all ones across both dims; the
    // out-of-bounds row clamps to the (lo, hi) corner = y-bits only
    assert(refKey(100.0, 1.0) == (1L << (2 * bits)) - 1)
    assert(got(1) == (1L << (2 * bits)) - 1)
    assert(got(5) == refKey(0.0, 1.0))
  }

  test("z-order clustering tightens per-partition envelopes in BOTH dims") {
    import graft.operators.ZOrder
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_extendedprice", "l_discount")
    val bounds = Seq((900.0, 105000.0), (0.0, 0.11))
    val parts = 16
    val clustered = ZOrder.clusterByZOrder(li,
      Seq("l_extendedprice", "l_discount"), bounds, bits = 8,
      numPartitions = Some(parts))
    // the one shuffle is a range exchange on the key
    val plan = clustered.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"expected a range exchange on z_key, plan:\n$plan")
    val ranges = clustered
      .groupBy(F.spark_partition_id().as("pid"))
      .agg((F.max("l_extendedprice") - F.min("l_extendedprice")).as("pr"),
        (F.max("l_discount") - F.min("l_discount")).as("dr"))
      .collect()
    // every z-contiguous partition must be tight in at least the coarse
    // (high-order) bits of both dimensions: mean envelope well under the
    // global range — the property min/max file skipping relies on
    val meanPr = ranges.map(_.getAs[Double]("pr")).sum / ranges.length
    val meanDr = ranges.map(_.getAs[Double]("dr")).sum / ranges.length
    assert(meanPr < (105000.0 - 900.0) / 2.0,
      s"price envelopes not tightened: mean $meanPr")
    assert(meanDr < 0.11 / 2.0,
      s"discount envelopes not tightened: mean $meanDr")
  }

  test("z-order argument validation") {
    import graft.operators.ZOrder
    intercept[IllegalArgumentException](
      ZOrder.zKey(Seq(F.col("x")), Seq((0.0, 1.0), (0.0, 1.0)), 8))
    intercept[IllegalArgumentException](
      ZOrder.zKey(Seq(F.col("x"), F.col("y")), Seq((0.0, 1.0), (0.0, 1.0)), 32))
    intercept[IllegalArgumentException](ZOrder.quantize(F.col("x"), 1.0, 1.0, 8))
  }

  test("partitioned store write prunes on the partition column") {
    val store = new graft.store.TableStore(
      java.nio.file.Files.createTempDirectory("graft-part-store").toString, spark)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val ctx = graft.core.SysCtx.fresh()
    store.stageWrite("c", "orders_p", orders, ctx, partitionBy = Seq("o_orderstatus"))
    store.commitTransaction(ctx.transaction)
    val scanned = store.scan("c/orders_p").get.df
    assert(scanned.count() == orders.count())
    // partition pruning: physical plan's read selects only one dir
    val pruned = scanned.filter(F.col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      orders.filter(F.col("o_orderstatus") === "F").count())
    assert(plan.contains("PartitionFilters") || plan.contains("o_orderstatus"))
  }

  test("skew diagnostics: top keys, concentration stats, salt plan") {
    import spark.implicits._
    // 100 a, 40 b, 8 c, 2 null — a known concentration profile
    val rows = Seq.fill(100)(Option("a")) ++ Seq.fill(40)(Option("b")) ++
      Seq.fill(8)(Option("c")) ++ Seq.fill(2)(Option.empty[String])
    val df = rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "k")
    val top = graft.operators.SkewDiag.skewTopKeys(df, "k", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(top.toSeq == Seq(("a", 100L, 100.0 / 150.0),
      ("b", 40L, 40.0 / 150.0)))
    val st = graft.operators.SkewDiag.skewStats(df, "k", 2).collect().head
    assert(st.getAs[Long]("n") == 150L && st.getAs[Long]("n_keys") == 4L)
    assert(st.getAs[Long]("max_cnt") == 100L)
    assert(st.getAs[Double]("max_share") == 100.0 / 150.0)
    assert(st.getAs[Double]("topk_share") == 140.0 / 150.0)
    // entropy vs a driver-side fold in the same pinned order:
    // top-2 in (cnt asc) order = (40, 100), then OTHER = 10
    val n = 150.0
    def t(c: Double) = { val p = c / n; -(p * math.log(p)) }
    val expectH = ((0.0 + t(40)) + t(100)) + t(10)
    assert(st.getAs[Double]("entropy") == expectH)
    // all mass in one key → entropy 0; uniform over 4 → ln 4 with k=4
    val one = Seq.fill(10)("x").zipWithIndex.map(_.swap).toDF("id", "k")
    assert(graft.operators.SkewDiag.skewStats(one, "k", 3)
      .collect().head.getAs[Double]("entropy") == 0.0)
    val uni = (0 until 40).map(i => (i, s"k${i % 4}")).toDF("id", "k")
    val hUni = graft.operators.SkewDiag.skewStats(uni, "k", 4)
      .collect().head.getAs[Double]("entropy")
    assert(math.abs(hUni - math.log(4.0)) < 1e-12, s"$hUni")
    // salt plan: only over-budget keys, exact ceil
    val plan = graft.operators.SkewDiag.saltFactors(df, "k", 30L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(plan.toSeq == Seq(("a", 100L, 4L), ("b", 40L, 2L)))
  }

  test("equi-depth histogram: near-equal bins, exact NTILE boundaries, null-excluded") {
    import spark.implicits._
    val df = (1 to 103).map(i => (i.toLong, Option(i.toLong * 10))).toDF("id", "v")
      .unionByName(Seq((999L, Option.empty[Long])).toDF("id", "v"))
    val h = graft.operators.Quantiles
      .equiDepthHistogram(df, "v", 4, tiebreakers = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 103 rows into 4 bins: sizes differ by at most 1 and sum to n
    assert(h.map(_._2).sum == 103L)
    assert(h.map(_._2).max - h.map(_._2).min <= 1)
    // boundaries: bucket of row r is floor((r-1)*4/103) over the sorted order
    val expected = (1 to 103).groupBy(r => ((r - 1) * 4) / 103)
      .map { case (b, rs) =>
        (b.toLong, rs.size.toLong, rs.min.toLong * 10, rs.max.toLong * 10) }
      .toSeq.sortBy(_._1)
    assert(h.toSeq == expected)
    // contiguous, non-overlapping coverage
    h.sliding(2).foreach { case Array(a, b) => assert(a._4 < b._3); case _ => }
  }
}
