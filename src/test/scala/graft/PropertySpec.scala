package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableFrame
import graft.operators.{AsofJoin, RangeJoin, ScalableRank}
import graft.td

/** Property-based differential tests: the hand-built scale operators must
  * agree with driver-side brute-force formulations on RANDOM inputs, not
  * just the curated fixtures in OperatorsSpec. Uses raw ScalaCheck
  * generators with a fixed seed (scalatestplus is not in the offline
  * cache) — deterministic across runs, a handful of samples per property
  * because each sample is a Spark job. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def samples[A](gen: Gen[A], n: Int = 5): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val keyed: Gen[List[(Int, Int)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 4)
      v <- Gen.choose(-100, 100)
    } yield (k, v))
  } yield rows

  test("exact quantiles == sorted-list order statistics on random data") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((_, v), i) => (i.toLong, v.toLong) }.toDF("id", "v")
      val qs = Seq(0.01, 0.33, 0.5, 0.77, 1.0)
      val got = graft.operators.Quantiles
        .exactQuantiles(df, "v", qs, tiebreakers = Seq("id"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val sorted = rows.map(_._2.toLong).sorted
      val exp = qs.map(q =>
        q -> sorted(math.max(1, math.ceil(q * sorted.size).toInt) - 1)).toMap
      assert(got == exp, s"sample=$si rows=${rows.size}")
    }
  }

  test("withRankByGroup == per-group sorted position on random keyed data") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (s"g$k", i.toLong, v.toLong) }
        .toDF("g", "id", "v").repartition(5)
      val got = ScalableRank.withRankByGroup(df, "g", "v", "r",
          tiebreakers = Seq("id"))
        .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
      // driver-side truth: position in the group's (v, id)-sorted list
      val exp = rows.zipWithIndex.groupBy(_._1._1).values.flatMap { grp =>
        grp.map { case ((_, v), i) => (v.toLong, i.toLong) }.sorted.zipWithIndex
          .map { case ((_, id), pos) => id -> (pos + 1).toLong }
      }.toMap
      assert(got == exp, s"sample=$si rows=${rows.size}")
    }
  }

  test("withRankByGroup method=min == per-group SQL-rank on random keyed " +
    "data with duplicates") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      // coarsen values to force heavy within-group ties (v mod 7)
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (s"g$k", i.toLong, (v % 7).toLong) }
        .toDF("g", "id", "v").repartition(5)
      val got = ScalableRank.withRankByGroup(df, "g", "v", "r",
          method = "min")
        .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
      // driver-side truth: SQL rank = 1 + count of strictly-smaller
      // values in the group (tied rows share the block-start rank)
      val exp = rows.zipWithIndex.groupBy(_._1._1).values.flatMap { grp =>
        val vs = grp.map { case ((_, v), i) => ((v % 7).toLong, i.toLong) }
        vs.map { case (v, id) =>
          id -> (1L + vs.count(_._1 < v))
        }
      }.toMap
      assert(got == exp, s"sample=$si rows=${rows.size}")
    }
  }

  test("quantile sketch merge: any random split merges to the whole-corpus sketch") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      import graft.pipeline.Report
      import org.apache.spark.sql.{functions => F}
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v.toLong) }.toDF("id", "part", "v")
      val whole = Report.quantileSketch(df, "v", -100.0, 100.0, 16)
        .select("counts", "n").head()
      // split on the random key into up to 5 shards, sketch each, merge
      val shards = (0 to 4).map(k =>
        Report.quantileSketch(df.where(F.col("part") === k), "v",
          -100.0, 100.0, 16))
      val nonEmpty = shards.filter(_.head(1).nonEmpty)
      val merged = Report.mergeQuantileSketches(
        nonEmpty.reduce(_ unionByName _)).head()
      assert(merged.getSeq[Long](0) == whole.getSeq[Long](0), s"sample=$si")
      assert(merged.getLong(1) == whole.getLong(1), s"sample=$si")
    }
  }

  test("bloom filter: random splits OR to the whole filter; membership == position-set replay") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      import graft.pipeline.Sketches
      import org.apache.spark.sql.{functions => F}
      val (m, kh) = (256, 3)
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, s"key-$v") }
        .toDF("id", "part", "s")
      val whole = Sketches.bloomSketch(df, "s", m, kh)
      val shards = (0 to 4).map(k =>
        Sketches.bloomSketch(df.where(F.col("part") === k), "s", m, kh))
        .filter(_.head(1).nonEmpty)
      val merged = Sketches.mergeBloomSketches(
        shards.reduce(_ unionByName _)).head()
      assert(merged.getSeq[Long](0) == whole.head().getSeq[Long](0),
        s"sample=$si")
      // driver-side replay: member(p) iff all kh md5 positions are in
      // the inserted position set — false positives reproduced exactly
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def positions(key: String) = (0 until kh).map(i =>
        java.lang.Long.parseLong(md5hex(s"$i:$key").take(8), 16) % m)
      val inserted = rows.map(r => s"key-${r._2}").distinct
        .flatMap(positions).toSet
      val probes = (-120 to 120).map(v => s"key-$v")
      val got = Sketches.bloomProbe(whole, probes.toDF("probe"), "probe")
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      probes.foreach { p =>
        assert(got(p) == positions(p).forall(inserted),
          s"sample=$si probe=$p")
      }
    }
  }

  test("kmv set ops: estimator bounds and exact small-set algebra on random data") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      import graft.pipeline.Sketches
      val a = rows.map(r => s"k${r._1 * 100 + r._2}").distinct.toDF("key")
      val b = rows.map(r => s"k${r._2 * 3}").distinct.toDF("key")
      // k far above the value range → sketches are exhaustive → EXACT
      val ops = Sketches.kmvSetOps(
        Sketches.kmvSketch(a, "key", 4096),
        Sketches.kmvSketch(b, "key", 4096)).collect().head
      val sa = rows.map(r => s"k${r._1 * 100 + r._2}").toSet
      val sb = rows.map(r => s"k${r._2 * 3}").toSet
      // exact up to one ulp chain: (c/n)*n is not always c in IEEE
      def near(x: Double, e: Int): Unit =
        assert(math.abs(x - e) <= 1e-9 * math.max(1, e),
          s"sample=$si: $x vs $e")
      near(ops.getAs[Double]("union_est"), (sa ++ sb).size)
      near(ops.getAs[Double]("intersect_est"), (sa intersect sb).size)
      near(ops.getAs[Double]("diff_ab_est"), (sa diff sb).size)
      val j = ops.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0, s"sample=$si")
    }
  }

  test("sketch drift == driver-side PSI/KS/TVD from binned counts on random data") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      import graft.pipeline.Report
      import org.apache.spark.sql.{functions => F}
      val df = rows.map { case (k, v) => (k, v.toDouble) }.toDF("part", "v")
      val aRows = rows.filter(_._1 % 2 == 0).map(_._2.toDouble)
      val bRows = rows.filter(_._1 % 2 == 1).map(_._2.toDouble)
      if (aRows.nonEmpty && bRows.nonEmpty) {
        val (lo, hi, bins) = (-100.0, 100.0, 8)
        val drift = Report.sketchDrift(
          Report.quantileSketch(df.where(F.col("part") % 2 === 0), "v", lo, hi, bins),
          Report.quantileSketch(df.where(F.col("part") % 2 === 1), "v", lo, hi, bins))
          .head()
        // driver truth: same binning, same smoothing, same fold order
        def binOf(x: Double): Int =
          if (x < lo) 0
          else if (x >= hi) bins + 1
          else math.min(bins, (((x - lo) * bins) / (hi - lo)).floor.toInt + 1)
        def counts(xs: Seq[Double]) = {
          val m = xs.groupBy(binOf).view.mapValues(_.size.toLong).toMap
          (0 to bins + 1).map(i => m.getOrElse(i, 0L))
        }
        val (ca, cb) = (counts(aRows), counts(bRows))
        val (na, nb) = (aRows.size.toDouble, bRows.size.toDouble)
        val cells = (bins + 2).toDouble
        var psi = 0.0; var tvd = 0.0; var maxd = 0.0
        var cum_a = 0L; var cum_b = 0L
        ca.zip(cb).foreach { case (x, y) =>
          val pa = (x.toDouble + 0.5) / (na + 0.5 * cells)
          val pb = (y.toDouble + 0.5) / (nb + 0.5 * cells)
          psi += (pa - pb) * math.log(pa / pb)
          tvd += math.abs(x.toDouble / na - y.toDouble / nb)
          cum_a += x; cum_b += y
          maxd = math.max(maxd, math.abs(cum_a.toDouble / na - cum_b.toDouble / nb))
        }
        assert(math.abs(drift.getDouble(0) - psi) < 1e-12, s"sample=$si psi")
        assert(drift.getDouble(1) == maxd, s"sample=$si ks")
        assert(math.abs(drift.getDouble(2) - 0.5 * tvd) < 1e-12, s"sample=$si tvd")
        assert(drift.getLong(3) == aRows.size.toLong &&
          drift.getLong(4) == bRows.size.toLong, s"sample=$si n")
      }
    }
  }

  test("embedding drift == driver-side fixed-point centroid stats on random data") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      import graft.pipeline.Report
      import org.apache.spark.sql.{functions => F}
      val dim = 4
      // derive a deterministic small vector per row from (k, v)
      val vecs = rows.zipWithIndex.map { case ((k, v), i) =>
        (i.toLong, k, Array.tabulate(dim)(j => ((v * (j + 1) + k) % 97) / 97.0f))
      }
      val aV = vecs.filter(_._2 % 2 == 0)
      val bV = vecs.filter(_._2 % 2 == 1)
      if (aV.nonEmpty && bV.nonEmpty) {
        val df = vecs.toDF("id", "part", "vec")
        val drift = Report.embeddingDrift(
          Report.embeddingSketch(df.where(F.col("part") % 2 === 0), "vec", dim),
          Report.embeddingSketch(df.where(F.col("part") % 2 === 1), "vec", dim))
          .head()
        val scale = (1L << 20).toDouble
        def mean(side: Seq[(Long, Int, Array[Float])]) = {
          val sums = Array.fill(dim)(0L)
          side.foreach(t => (0 until dim).foreach(j =>
            sums(j) += math.floor(t._3(j).toDouble * scale + 0.5).toLong))
          sums.map(s => (s.toDouble / side.size.toDouble) / scale)
        }
        val (ma, mb) = (mean(aV), mean(bV))
        var dot = 0.0; var a2 = 0.0; var b2 = 0.0; var d2 = 0.0; var mx = 0.0
        (0 until dim).foreach { j =>
          dot += ma(j) * mb(j); a2 += ma(j) * ma(j); b2 += mb(j) * mb(j)
          d2 += (ma(j) - mb(j)) * (ma(j) - mb(j))
          mx = math.max(mx, math.abs(ma(j) - mb(j)))
        }
        assert(drift.getDouble(0) == dot / (math.sqrt(a2) * math.sqrt(b2)),
          s"sample=$si cos")
        assert(drift.getDouble(1) == math.sqrt(d2), s"sample=$si l2")
        assert(drift.getDouble(2) == mx, s"sample=$si max")
      }
    }
  }

  test("running sum + budget selection == driver-side prefix scan on random data") {
    for ((rows, si) <- samples(keyed).zipWithIndex) {
      import spark.implicits._
      // cost must be nonnegative for a budget walk
      val data = rows.zipWithIndex
        .map { case ((_, v), i) => (i.toLong, math.abs(v).toLong) }
      val df = data.toDF("id", "cost")
      val budget = math.max(1L, data.map(_._2).sum / 2)
      import org.apache.spark.sql.{functions => F}
      val got = graft.operators.RunningSum
        .selectByBudget(df, Seq(F.col("cost").desc, F.col("id").asc),
          "cost", budget)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap // id -> cum
      var acc = 0L
      val exp = data.sortBy { case (id, c) => (-c, id) }
        .takeWhile { case (_, c) => val before = acc; acc += c; before < budget }
        .map { case (id, c) => id }
      // recompute cums for the kept prefix
      var acc2 = 0L
      val expCum = data.sortBy { case (id, c) => (-c, id) }
        .map { case (id, c) => acc2 += c; id -> acc2 }.toMap
      assert(got.keySet == exp.toSet, s"sample=$si")
      got.foreach { case (id, cum) => assert(cum == expCum(id), s"sample=$si id=$id") }
    }
  }

  test("scalable rank == single-window rank on random data (min/dense/ordinal)") {
    for (rows <- samples(keyed)) {
      import spark.implicits._
      val df = rows.map(_._2).toDF("v")
      for (method <- Seq("min", "dense", "ordinal")) {
        val viaWindow = TableFrame.fromDF(df)
          .select(td.col("v"), td.col("v").rank(method).as("r"))
          .df.collect().map(r => (r.getInt(0), r.get(1).toString))
        val viaScale = ScalableRank.withRank(df, "v", method = method)
          .select("v", "rank")
          .collect().map(r => (r.getInt(0), r.get(1).toString))
        // same multiset of (value, rank) pairs (ordinal breaks ties
        // arbitrarily on both sides — the multiset is still unique)
        assert(viaWindow.groupBy(identity).view.mapValues(_.length).toMap ==
          viaScale.groupBy(identity).view.mapValues(_.length).toMap,
          s"method=$method rows=$rows")
      }
    }
  }

  test("asof join == brute force on random series (backward/forward/nearest)") {
    val gen = for {
      left <- Gen.listOfN(12, Gen.zip(Gen.choose(0, 1), Gen.choose(0L, 50L)))
      right <- Gen.listOfN(12, Gen.zip(Gen.choose(0, 1), Gen.choose(0L, 50L)))
    } yield (left.distinct,
      // right timestamps distinct per group: duplicate (group, ts) right
      // rows have no deterministic winner in either formulation
      right.groupBy(identity).keys.toList.sorted)
    for ((l, r) <- samples(gen) if l.nonEmpty && r.nonEmpty) {
      import spark.implicits._
      val left = l.toDF("by", "t")
      val right = r.zipWithIndex
        .map { case ((b, t), i) => (b, t, i.toLong) }.toDF("by", "t", "v")
      for (strategy <- Seq("backward", "forward", "nearest")) {
        val got = AsofJoin.asofJoin(left, right, on = "t", by = Seq("by"),
          strategy = strategy)
          .select("by", "t", "v")
          .collect().map(x => (x.getInt(0), x.getLong(1),
            if (x.isNullAt(2)) -1L else x.getLong(2))).sorted.toSeq
        val expect = l.map { case (b, t) =>
          val cands = r.zipWithIndex.collect {
            case ((rb, rt), i) if rb == b => (rt, i.toLong)
          }
          val pick = strategy match {
            case "backward" =>
              cands.filter(_._1 <= t).sortBy(_._1).lastOption.map(_._2)
            case "forward" =>
              cands.filter(_._1 >= t).sortBy(_._1).headOption.map(_._2)
            case "nearest" => // ties at equal distance go backward (lower ts)
              if (cands.isEmpty) None
              else Some(cands.minBy(x => (math.abs(x._1 - t), x._1))._2)
          }
          (b, t, pick.getOrElse(-1L))
        }.sorted
        assert(got == expect, s"strategy=$strategy l=$l r=$r")
      }
    }
  }

  test("range join == cross join + between filter on random intervals") {
    val gen = for {
      pts <- Gen.listOfN(15, Gen.choose(0L, 100L))
      ivs <- Gen.listOfN(8, for {
        lo <- Gen.choose(0L, 90L)
        len <- Gen.choose(0L, 20L)
      } yield (lo, lo + len))
    } yield (pts, ivs)
    for ((pts, ivs) <- samples(gen)) {
      import spark.implicits._
      val points = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("pid", "p")
      val intervals = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val got = RangeJoin.rangeJoin(points, "p", intervals, "lo", "hi",
        bucketWidth = 8)
        .select("pid", "iid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expect = (for {
        (p, pi) <- pts.zipWithIndex
        ((lo, hi), ii) <- ivs.zipWithIndex
        if p >= lo && p <= hi
      } yield (pi.toLong, ii.toLong)).sorted
      assert(got == expect)
    }
  }

  test("unique keep modes: counts and first-row semantics on random duplicates") {
    for (rows <- samples(keyed)) {
      import spark.implicits._
      val df = rows.toDF("k", "v")
      val tf = TableFrame.fromDF(df)
      val distinctK = rows.map(_._1).distinct.size
      assert(tf.unique(Seq("k"), "any").df.count() == distinctK)
      assert(tf.unique(Seq("k"), "first").df.count() == distinctK)
      assert(tf.unique(Seq("k"), "last").df.count() == distinctK)
      val onceKeys = rows.groupBy(_._1).filter(_._2.size == 1).keySet
      assert(tf.unique(Seq("k"), "none").df.count() == onceKeys.size)
      // first/last pick the actual first/last row per key in frame order
      val firsts = tf.unique(Seq("k"), "first").df.select("k", "v").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(firsts == rows.groupBy(_._1).view.mapValues(_.head._2).toMap)
      val lasts = tf.unique(Seq("k"), "last").df.select("k", "v").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(lasts == rows.groupBy(_._1).view.mapValues(_.last._2).toMap)
    }
  }

  test("rolling window == brute-force double loop on random series") {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    val series: Gen[List[(Int, Long, Double)]] = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, 2)
        t <- Gen.choose(0L, 50L)
        v <- Gen.choose(-100, 100)
      } yield (g, t, v.toDouble))
    } yield rows
    for (rows <- samples(series)) {
      val period = 5L
      val df = rows.toDF("g", "t", "v")
      val got = graft.operators.Rolling.rolling(df, "t", period, Seq("g"), "v",
          Map("s" -> ((c, w) => F.sum(c).over(w)),
              "n" -> ((c, w) => F.count(c).over(w))))
        .select("g", "t", "v", "s", "n")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4))).toList.sorted
      // brute force: for each row, all rows of the group within (t-period, t]
      val expect = rows.map { case (g, t, v) =>
        val in = rows.filter { case (g2, t2, _) => g2 == g && t2 > t - period && t2 <= t }
        (g, t, v, in.map(_._3).sum, in.size.toLong)
      }.sorted
      assert(got == expect)
    }
  }

  test("interpolate == manual linear interpolation on random gappy series") {
    import spark.implicits._
    val series: Gen[List[(Long, Option[Double])]] = for {
      n <- Gen.choose(2, 30)
      rows <- Gen.listOfN(n, for {
        v <- Gen.option(Gen.choose(-50, 50).map(_.toDouble))
      } yield v)
    } yield rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    for (rows <- samples(series)) {
      val df = rows.map { case (t, v) => (t, v.map(Double.box).orNull) }
        .toDF("t", "v").selectExpr("t", "CAST(v AS DOUBLE) AS v")
      val got = graft.operators.SeriesOps.interpolate(df, "v", "t")
        .orderBy("t").collect()
        .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toList
      // manual: null gets prev + (next-prev)*(t-pt)/(nt-pt); edge nulls stay
      val known = rows.collect { case (t, Some(v)) => (t, v) }
      val expect = rows.map {
        case (_, Some(v)) => Some(v)
        case (t, None) =>
          val prev = known.filter(_._1 < t).lastOption
          val next = known.find(_._1 > t)
          (prev, next) match {
            case (Some((pt, pv)), Some((nt, nv))) =>
              Some(pv + (nv - pv) * (t - pt).toDouble / (nt - pt))
            case _ => None
          }
      }
      got.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
        (g, e) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"row $i")
          case (a, b) => assert(a == b, s"row $i")
        }
      }
    }
  }

  test("concat vertical + unique(any) == distinct union on random frames") {
    for ((a, b) <- samples(Gen.zip(keyed, keyed))) {
      import spark.implicits._
      val fa = TableFrame.fromDF(a.toDF("k", "v"))
      val fb = TableFrame.fromDF(b.toDF("k", "v"))
      val u = TableFrame.concat(Seq(fa, fb), "vertical").unique(Seq("k", "v"), "any")
      assert(u.df.count() == (a ++ b).distinct.size)
    }
  }

  test("semantic dedup pairs: sound on random vectors (recomputed cosine)") {
    // soundness must hold on ARBITRARY geometry, not just separable
    // clusters: every emitted pair really is >= threshold (recall is the
    // clustering's documented approximation; precision is exact)
    val vecGen: Gen[List[List[Double]]] = for {
      n <- Gen.choose(8, 30)
      vs <- Gen.listOfN(n, Gen.listOfN(5, Gen.choose(-1.0, 1.0)))
    } yield vs
    for (vs <- samples(vecGen, 3)) {
      import spark.implicits._
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("id", "vec")
      val byId = rows.toMap
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val thr = 0.6
      graft.pipeline.SemDedup.pairs(df, "id", "vec", k = 4, iters = 2, threshold = thr)
        .collect().foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          assert(a < b)
          assert(cos(byId(a), byId(b)) >= thr - 1e-9, s"pair ($a,$b)")
        }
    }
  }

  test("packing == driver-side prefix sum on random token sizes") {
    // zeros, budget-sized docs, and budget-straddlers all appear
    val tokensGen: Gen[List[Long]] = for {
      n <- Gen.choose(1, 60)
      ts <- Gen.listOfN(n, Gen.oneOf(Gen.choose(0L, 30L), Gen.const(64L),
        Gen.choose(50L, 200L)))
    } yield ts
    for (ts <- samples(tokensGen)) {
      import spark.implicits._
      val rows = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.pipeline.Packing
        .packByBudget(rows.toDF("id", "tok"), "id", "tok", 64L)
        .select("id", "pack_id", "pack_pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      var cum = 0L
      val expect = rows.map { case (id, t) =>
        val r = (id, cum / 64L, cum % 64L); cum += t; r
      }
      assert(got == expect)
    }
  }

  test("fuzzy pairs: a 10k shared-prefix block is dropped, not made quadratic") {
    import spark.implicits._
    // every URL shares the 8-char prefix "https://" → one block of 10k rows
    // would alone mean ~5*10^7 Levenshtein pairs; the maxBlock guard drops
    // the hot block structurally, and the distinct-prefix rows still pair
    val urls = (0 until 10000).map(i => (i.toLong, s"https://host-$i.example/path"))
    val named = Seq((20001L, "acct-alpha-1"), (20002L, "acct-alpha-2"))
    val df = (urls ++ named).toDF("id", "s")
    val got = graft.pipeline.Dedup
      .fuzzyPairs(df, "s", "id", blockLen = 8, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((20001L, 20002L)))
    // raising maxBlock past the block size restores the exhaustive contract
    val loose = graft.pipeline.Dedup
      .fuzzyPairs(df.limit(20), "s", "id", blockLen = 8, maxDist = 2,
        maxBlock = 100)
      .count()
    assert(loose > 0)
  }

  test("semdedup autoK: corpus-sized cluster count, pairs stay sound") {
    import spark.implicits._
    // heuristic floor and growth
    assert(graft.pipeline.SemDedup.autoK(100) == 16)
    assert(graft.pipeline.SemDedup.autoK(100000) == 25)           // ceil(1e5/4096)
    assert(graft.pipeline.SemDedup.autoK(450000000L, 40000) == 11250) // paper regime
    // default-k path (AutoK) on a small corpus: every reported pair is a
    // true cosine near-dup (soundness is cluster-independent)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).map { i =>
      val base = Array.tabulate(8)(d => if (d == i % 4) 1.0 else 0.0)
      (i.toLong, base.map(_ + rnd.nextDouble() * 0.01).toSeq)
    }
    val df = rows.toDF("id", "vec")
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = rows.toMap
    graft.pipeline.SemDedup.pairs(df, "id", "vec", threshold = 0.99)
      .collect().foreach { r =>
        assert(cos(byId(r.getLong(0)), byId(r.getLong(1))) >= 0.99 - 1e-9)
      }
  }

  test("incremental dedup == driver-side set difference on random batches") {
    val batchGen: Gen[(List[Int], List[Int])] =
      Gen.zip(Gen.listOf(Gen.choose(0, 15)), Gen.listOf(Gen.choose(0, 15)))
    for ((hist, batch) <- samples(batchGen) if batch.nonEmpty) {
      import spark.implicits._
      val h = hist.zipWithIndex.map { case (t, i) => (i.toLong, s"t$t") }
      val b = batch.zipWithIndex.map { case (t, i) => (1000L + i, s"t$t") }
      val got = graft.pipeline.Dedup
        .incrementalNew(h.toDF("id", "text"), b.toDF("id", "text"), "text", "id")
        .collect().map(_.getLong(0)).toSet
      val histSet = hist.map(t => s"t$t").toSet
      val expect = b.groupBy(_._2).collect {
        case (t, rows) if !histSet.contains(t) => rows.map(_._1).min
      }.toSet
      assert(got == expect)
    }
  }

  test("matchDistribution == brute-force threshold replay on random corpora") {
    import spark.implicits._
    val corpus: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(20, 200)
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0L, 100000L)
        g <- Gen.oneOf("a", "b", "c", "d")
      } yield (id, g))
    } yield rows.distinctBy(_._1)
    val target = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    def bucket(id: Long): Long = ((id % 1000003L) * 2654435761L) % 1000000L
    for (rows <- samples(corpus)) {
      val df = rows.toDF("id", "g")
      val got = graft.pipeline.DataMix
        .matchDistribution(df, "id", "g", target)
        .select("id").collect().map(_.getLong(0)).toSet
      // brute-force replay of the documented arithmetic
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val present = target.filter { case (g, t) => t > 0 && counts.contains(g) }
      val expect: Set[Long] =
        if (present.isEmpty) Set.empty
        else {
          val nStar = present.map { case (g, t) => counts(g).toDouble / t }.min
          val thr = present.map { case (g, t) =>
            g -> math.floor(math.min(1.0, t * nStar / counts(g).toDouble) * 1000000L).toLong
          }
          rows.collect { case (id, g) if thr.contains(g) && bucket(id) < thr(g) => id }.toSet
        }
      assert(got == expect)
    }
  }

  test("splitByKey == md5-bucket replay; co-assignment holds on random keys") {
    import spark.implicits._
    val corpus: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(10, 120)
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0L, 100000L)
        k <- Gen.oneOf((1 to 12).map(i => s"key$i"))
      } yield (id, k))
    } yield rows.distinctBy(_._1)
    def keyBucket(k: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 1000000L
    }
    for (rows <- samples(corpus)) {
      val got = graft.pipeline.DataMix
        .splitByKey(rows.toDF("id", "k"), "k", valFrac = 0.25, testFrac = 0.25)
        .select("id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val expect = rows.map { case (id, k) =>
        val b = keyBucket(k)
        id -> (if (b < 250000) "val" else if (b < 500000) "test" else "train")
      }.toMap
      assert(got == expect)
    }
  }

  test("isotonicCalibration == sequential stack PAV on random binned " +
    "labels, monotone, mass-conserving") {
    import spark.implicits._
    val cohort: Gen[List[(Int, Int)]] = for {
      n <- Gen.choose(5, 60)
      rows <- Gen.listOfN(n, for {
        b <- Gen.choose(0, 9)     // ten score bins
        y <- Gen.oneOf(0, 1)
      } yield (b, y))
    } yield rows
    for ((rows, si) <- samples(cohort, n = 6).zipWithIndex) {
      val df = rows.map { case (b, y) => (b.toDouble / 10.0 + 0.01, y) }
        .toDF("score", "label").repartition(5)
      val got = graft.pipeline.QualityModel
        .isotonicCalibration(df, "score", "label", bins = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(4)))
      // driver-side classic stack PAV over the same observed bins
      val grid = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, rs) =>
          (b, rs.size.toLong, rs.count(_._2 == 1).toLong) }
      val blocks = scala.collection.mutable.ArrayBuffer[(Double, Double, Int)]()
      for ((_, w, p) <- grid) {
        blocks += ((p.toDouble, w.toDouble, 1))
        while (blocks.size > 1 &&
            blocks(blocks.size - 2)._1 / blocks(blocks.size - 2)._2 >
              blocks.last._1 / blocks.last._2) {
          val (s2, w2, c2) = blocks.remove(blocks.size - 1)
          val (s1, w1, c1) = blocks.remove(blocks.size - 1)
          blocks += ((s1 + s2, w1 + w2, c1 + c2))
        }
      }
      val want = blocks.flatMap { case (s, w, c) => Seq.fill(c)(s / w) }
      assert(got.length == grid.size, s"sample=$si")
      for (((g, exp), k) <- got.zip(want).zipWithIndex)
        assert(math.abs(g._4 - exp) < 1e-12,
          s"sample=$si bin#$k: ${g._4} vs $exp")
      // monotone, and pooled mass equals the positives exactly
      val fits = got.map(_._4)
      assert(fits.zip(fits.tail).forall { case (a, b) => a <= b })
      val mass = got.map(g => g._4 * g._2.toDouble).sum
      assert(math.abs(mass - rows.count(_._2 == 1).toDouble) < 1e-9,
        s"sample=$si mass=$mass")
    }
  }

  test("mannKendall == brute-force pair enumeration on random tied " +
    "series, partitioning-independent") {
    import graft.pipeline.Trend
    import spark.implicits._
    val series: Gen[List[(String, Int)]] = for {
      na <- Gen.choose(2, 25); nb <- Gen.choose(2, 25)
      as <- Gen.listOfN(na, Gen.choose(-5, 5)) // small domain → ties
      bs <- Gen.listOfN(nb, Gen.choose(-5, 5))
    } yield as.map(("g1", _)) ++ bs.map(("g2", _))
    for ((rows, si) <- samples(series, n = 6).zipWithIndex) {
      val byG = rows.groupBy(_._1)
      val df = rows.zipWithIndex
        .map { case ((g, x), i) => (g, i.toLong, x.toDouble) }
        .toDF("g", "t", "x").repartition(7)
      val got = Trend.mannKendall(df, "g", "t", "x").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toMap
      for ((g, rs0) <- byG) {
        // brute force in GLOBAL index order (the fixture's t)
        val xs = rows.zipWithIndex.collect {
          case ((`g`, x), i) => (i, x) }.sortBy(_._1).map(_._2)
        val n = xs.size.toLong
        val s = (for (i <- xs.indices; j <- i + 1 until xs.size)
          yield java.lang.Long.signum((xs(j) - xs(i)).toLong)).sum
        val tie = xs.groupBy(identity).values
          .map(c => c.size.toLong)
          .map(c => c * (c - 1L) * (2L * c + 5L)).sum
        val varS = (n * (n - 1L) * (2L * n + 5L) - tie).toDouble / 18.0
        val (gn, gs, gtie, gvar) = got(g)
        assert(gn == n && gs == s.toLong && gtie == tie && gvar == varS,
          s"sample=$si g=$g: got=($gn,$gs,$gtie,$gvar) " +
            s"want=($n,$s,$tie,$varS)")
      }
    }
  }

  test("kaplanMeier == brute-force product-limit on random censored " +
    "data across partitions") {
    import graft.pipeline.Survival
    import spark.implicits._
    val cohort: Gen[List[(Int, Int)]] = for {
      n <- Gen.choose(3, 40)
      rows <- Gen.listOfN(n, for {
        d <- Gen.choose(0, 8)     // small grid → shared event times
        e <- Gen.oneOf(0, 1)
      } yield (d, e))
    } yield rows
    for ((rows, si) <- samples(cohort, n = 6).zipWithIndex) {
      val df = rows.map { case (d, e) => (d.toLong, e) }
        .toDF("dur", "ev").repartition(5)
      val got = Survival.kaplanMeier(df, "dur", "ev").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
      // brute force ascending over the grid
      val grid = rows.groupBy(_._1).toSeq.sortBy(_._1)
      var atRisk = rows.size.toLong
      var surv = 1.0
      val want = grid.map { case (t, rs) =>
        val a = rs.size.toLong; val d = rs.count(_._2 != 0).toLong
        val row = {
          surv = surv * ((atRisk - d).toDouble / atRisk.toDouble)
          (t.toLong, atRisk, d, a - d, surv)
        }
        atRisk -= a
        row
      }
      assert(got.toSeq == want, s"sample=$si:\n$got\nvs\n$want")
    }
  }

  test("ksTwoSample == brute-force CDF sweep on random tied data, " +
    "partitioning-independent") {
    import graft.pipeline.Report
    import spark.implicits._
    val twoVariant: Gen[List[(String, Int)]] = for {
      na <- Gen.choose(2, 30); nb <- Gen.choose(2, 30)
      as <- Gen.listOfN(na, Gen.choose(-8, 8)) // small domain → many ties
      bs <- Gen.listOfN(nb, Gen.choose(-8, 8))
    } yield as.map(("A", _)) ++ bs.map(("B", _))
    for ((rows, si) <- samples(twoVariant, n = 6).zipWithIndex) {
      val df = rows.map { case (v, x) => (v, x.toDouble) }
        .toDF("variant", "x").repartition(7)
      val r = Report.ksTwoSample(df, "variant", "x").head()
      // driver-side truth: sweep every distinct value, exact rationals
      // via the same integer identity
      val a = rows.collect { case ("A", x) => x }
      val b = rows.collect { case ("B", x) => x }
      val grid = (a ++ b).distinct.sorted
      val avs = grid.map { v =>
        val ca = a.count(_ <= v).toLong; val cb = b.count(_ <= v).toLong
        (math.abs(b.size * ca - a.size * cb), v)
      }
      val mx = avs.map(_._1).max
      val expD = mx.toDouble / (a.size.toDouble * b.size.toDouble)
      val expAt = avs.filter(_._1 == mx).map(_._2).min.toDouble
      assert(r.getLong(3) == a.size.toLong && r.getLong(4) == b.size.toLong,
        s"sample=$si: $r")
      assert(r.getDouble(5) == expD && r.getDouble(6) == expAt,
        s"sample=$si: got (${r.getDouble(5)}, ${r.getDouble(6)}) " +
          s"want ($expD, $expAt)")
    }
  }

  test("min rank + tie count == keyed rank() + groupBy(key).count join, " +
    "global and per slice, NULL keys, both orders, 1/3/8 partitions") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val sliced: Gen[List[(Option[Int], Option[Int])]] = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        s <- Gen.option(Gen.choose(0, 2)) // small domains → many ties
        k <- Gen.option(Gen.choose(-5, 5))
      } yield (s, k))
    } yield rows
    // NULL keys and NULL slice keys in every sample
    val nulls = List((None, None), (None, Some(1)), (Some(0), None))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try for {
      parts <- Seq(1, 3, 8)
      (rows, si) <- samples(sliced, n = 3).zipWithIndex
      desc <- Seq(false, true)
      group <- Seq(None, Some("s"))
    } {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val df = (rows ++ nulls).zipWithIndex
        .map { case ((s, k), i) => (i.toLong, s, k) }
        .toDF("id", "s", "k").repartition(5)
      val got = ScalableRank.minRankAndTies(df, group, "k", "r", "c", desc)
        .select("id", "r", "c").as[(Long, Long, Long)].collect().sorted.toSeq
      val keys = group.toSeq :+ "k"
      val counts = df.groupBy(keys.map(c => F.col(c).as(s"e_$c")): _*)
        .agg(F.count(F.lit(1)).as("c"))
      val w = Window.partitionBy(group.toSeq.map(F.col): _*)
        .orderBy(if (desc) F.col("k").desc else F.col("k").asc)
      val want = df.withColumn("r", F.rank().over(w).cast("long"))
        .join(counts, keys.map(c => F.col(c) <=> F.col(s"e_$c")).reduce(_ && _))
        .select("id", "r", "c").as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got == want,
        s"partitions=$parts sample=$si desc=$desc group=$group")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
