package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** Specs for the round-13 model/analysis operators: PCA power iteration,
  * k-fold cross-validation, PageRank, privacy checks, readability. */
class ModelSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import TestSession.sf

  def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("pca: component is unit norm and stable across refits") {
    val m = Pca.fit(emb, "embedding", 64, iters = 3)
    val norm = math.sqrt(m.weights.map(w => w * w).sum)
    assert(math.abs(norm - 1.0) < 1e-12, s"norm $norm")
    val m2 = Pca.fit(emb, "embedding", 64, iters = 3)
    assert(m.weights.toSeq == m2.weights.toSeq, "refit must be bit-identical")
    assert(m.lambda > 0.0)
  }

  test("pca: recovers the dominant axis of an anisotropic cloud") {
    import spark.implicits._
    // x-axis variance 100× the y-axis: component ≈ ±e1
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(400)(Array(rnd.nextGaussian() * 10.0,
      rnd.nextGaussian() * 1.0, 0.0))
    val df = pts.map(a => Tuple1(a)).toDF("embedding")
    val m = Pca.fit(df, "embedding", 3, iters = 8)
    assert(math.abs(m.weights(0)) > 0.99, m.weights.toSeq.toString)
    assert(math.abs(m.weights(2)) < 1e-9, "constant dim has zero loading")
    // eigenvalue ≈ dominant variance (σ²=100), total ≈ 101
    val ev = Pca.explainedVariance(df, "embedding", m).head()
    assert(ev.getDouble(2) > 0.95 && ev.getDouble(2) <= 1.0)
  }

  test("pca: deflated second component is orthogonal, finds axis two") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(500)(Array(rnd.nextGaussian() * 10.0,
      rnd.nextGaussian() * 4.0, rnd.nextGaussian() * 0.5))
    val df = pts.map(a => Tuple1(a)).toDF("embedding")
    val m1 = Pca.fit(df, "embedding", 3, iters = 8)
    val m2 = Pca.fitDeflated(df, "embedding", 3, iters = 8, m1)
    assert(math.abs(m1.weights(0)) > 0.99)
    assert(math.abs(m2.weights(1)) > 0.99, m2.weights.toSeq.toString)
    val dot = (0 until 3).map(i => m1.weights(i) * m2.weights(i)).sum
    assert(math.abs(dot) < 1e-6, s"components not orthogonal: $dot")
    assert(m2.lambda < m1.lambda && m2.lambda > 0.0)
    // priors fitted on different data (disagreeing means/n) are refused
    // instead of silently deflating with inconsistent centering (r14 advice)
    val other = pts.map(a => Tuple1(a.map(_ + 100.0))).toDF("embedding")
    val mOther = Pca.fit(other, "embedding", 3, iters = 4)
    val err = intercept[IllegalArgumentException] {
      Pca.fitDeflatedK(df, "embedding", 3, iters = 4, Seq(m1, mOther))
    }
    assert(err.getMessage.contains("same data"), err.getMessage)
  }

  test("pca: fitK reproduces fit/fitDeflated bit-for-bit; component 3 " +
    "is orthogonal and finds axis three") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pts = Seq.fill(500)(Array(rnd.nextGaussian() * 10.0,
      rnd.nextGaussian() * 4.0, rnd.nextGaussian() * 1.5,
      rnd.nextGaussian() * 0.2))
    val df = pts.map(a => Tuple1(a)).toDF("embedding")
    val ms = Pca.fitK(df, "embedding", 4, k = 3, iters = 8)
    assert(ms.length == 3)
    val m1 = Pca.fit(df, "embedding", 4, iters = 8)
    val m2 = Pca.fitDeflated(df, "embedding", 4, iters = 8, m1)
    assert(ms(0).weights.toSeq == m1.weights.toSeq, "component 1 drifted")
    assert(ms(1).weights.toSeq == m2.weights.toSeq, "component 2 drifted")
    // component 3 finds the third axis, orthogonal to both priors
    assert(math.abs(ms(2).weights(2)) > 0.99, ms(2).weights.toSeq.toString)
    for (l <- 0 to 1) {
      val dot = (0 until 4).map(i => ms(l).weights(i) * ms(2).weights(i)).sum
      assert(math.abs(dot) < 1e-6, s"component 3 not orthogonal to ${l + 1}: $dot")
    }
    assert(ms(2).lambda < ms(1).lambda && ms(2).lambda > 0.0)
  }

  test("pca: fitK scales to k=8 — pairwise orthogonal, eigenvalues " +
    "monotone, residual shrinks with k") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // 10-dim cloud with geometrically decaying axis scales
    val scales = Array.tabulate(10)(i => math.pow(0.72, i) * 8.0)
    val pts = Seq.fill(600)(Array.tabulate(10)(i =>
      rnd.nextGaussian() * scales(i)))
    val df = pts.map(a => Tuple1(a)).toDF("embedding")
      .withColumn("id", F.monotonically_increasing_id())
    val ms = Pca.fitK(df, "embedding", 10, k = 8, iters = 6)
    assert(ms.length == 8)
    for (a <- ms.indices; b <- ms.indices if a < b) {
      val dot = (0 until 10).map(i => ms(a).weights(i) * ms(b).weights(i)).sum
      assert(math.abs(dot) < 1e-4, s"components ${a + 1},${b + 1} dot $dot")
    }
    val lams = ms.map(_.lambda)
    assert(lams.zip(lams.tail).forall { case (x, y) => x > y },
      s"eigenvalues not decreasing: ${lams.toSeq}")
    // more components explain more: total residual shrinks with k
    def resid(k: Int): Double =
      Pca.reconstructionError(df, "id", "embedding", ms.take(k))
        .agg(F.sum("err2")).head().getDouble(0)
    val r2 = resid(2); val r8 = resid(8)
    assert(r8 < r2 * 0.25, s"k=8 residual $r8 vs k=2 $r2")
  }

  test("pca: whitenK yields ~unit variance along each component") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val pts = Seq.fill(800)(Array(rnd.nextGaussian() * 10.0,
      rnd.nextGaussian() * 3.0, rnd.nextGaussian() * 0.5))
    val df = pts.map(a => Tuple1(a)).toDF("embedding")
      .withColumn("id", F.monotonically_increasing_id())
    val ms = Pca.fitK(df, "embedding", 3, k = 2, iters = 8)
    val w = Pca.whitenK(df, "id", "embedding", ms)
    val stats = w.agg(
      F.variance(F.col("y1")).as("v1"), F.variance(F.col("y2")).as("v2"),
      F.avg(F.col("y1")).as("m1"), F.avg(F.col("y2")).as("m2")).head()
    assert(math.abs(stats.getDouble(0) - 1.0) < 0.05, s"var y1 ${stats.getDouble(0)}")
    assert(math.abs(stats.getDouble(1) - 1.0) < 0.05, s"var y2 ${stats.getDouble(1)}")
    assert(math.abs(stats.getDouble(2)) < 0.05 && math.abs(stats.getDouble(3)) < 0.05)
  }

  test("pca: scores are the centered projection (driver cross-check)") {
    import spark.implicits._
    val df = Seq(Tuple1(Array(1.0, 2.0)), Tuple1(Array(3.0, 6.0)),
      Tuple1(Array(5.0, 10.0))).toDF("embedding")
      .withColumn("id", F.monotonically_increasing_id())
    val m = Pca.fit(df, "embedding", 2, iters = 6)
    val got = Pca.score(df, "id", "embedding", m)
      .orderBy("id").collect().map(_.getDouble(1))
    // perfectly collinear data: scores proportional to distance from mean
    assert(math.abs(got(1)) < 1e-9, "mean point projects to ~0")
    assert(math.abs(got(0) + got(2)) < 1e-9, "symmetric points cancel")
  }

  test("crossValidate: folds partition the corpus; aucs in range") {
    val feats = spark.read.parquet(s"$sf/documents.parquet")
      .where(F.col("n_chars").isNotNull && F.col("lang").isNotNull)
      .select(F.col("doc_id"),
        (F.col("n_chars").cast("double") / 1000.0d).as("x1"),
        F.when(F.col("lang") === "en", 1.0d).otherwise(0.0d).as("y"))
    val cv = QualityModel.crossValidate(feats, Seq("x1"), "y", "doc_id",
      k = 3, iters = 2)
    val rows = cv.collect()
    assert(rows.length == 3)
    val total = feats.count()
    rows.foreach { r =>
      val held = r.getLong(2) + r.getLong(3) // n_pos + n_neg
      assert(r.getLong(1) + held == total, "train + holdout = corpus")
      val auc = r.getDouble(4)
      assert(auc >= 0.0 && auc <= 1.0)
    }
    // fold ids 0,1,2 exactly once
    assert(rows.map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
  }

  test("pagerank: star graph ranks center above leaves; mass ≈ 1") {
    import spark.implicits._
    // undirected star: center 0 ↔ leaves 1..6 (symmetric edge list)
    val e0 = (1 to 6).map(i => ("n0", s"n$i"))
    val edges = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val pr = GraphRank.pagerank(edges, "src", "dst", iters = 10)
    val ranks = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks("n0") > ranks("n1") * 2, ranks.toString)
    assert((1 to 6).map(i => ranks(s"n$i")).distinct.size == 1,
      "leaves are symmetric")
    val mass = ranks.values.sum
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass $mass")
    // deterministic across runs
    val pr2 = GraphRank.pagerank(edges, "src", "dst", iters = 10)
    assert(pr2.collect().map(r => r.getDouble(1)).toSeq ==
      pr.orderBy("node").collect().map(_.getDouble(1)).toSeq)
  }

  test("pagerankPersonalized: mass concentrates at seeds; conserved; " +
    "off-graph seeds ignored") {
    import spark.implicits._
    // two symmetric 3-cycles bridged by one symmetric edge a1↔b1
    val cyc = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
      ("b1", "b2"), ("b2", "b3"), ("b3", "b1"), ("a1", "b1"))
    val edges = (cyc ++ cyc.map(_.swap)).toDF("src", "dst")
    val seeds = Seq("a1", "zz_not_in_graph").toDF("node")
    val pr = GraphRank.pagerankPersonalized(edges, "src", "dst",
      seeds, "node", iters = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // teleports restart at a1: the seeded side outranks the far side
    assert(pr("a1") > pr("b1"), pr.toString)
    assert(pr("a2") > pr("b2"), pr.toString)
    // symmetric graph has no dangling nodes → mass conserved
    assert(math.abs(pr.values.sum - 1.0) < 1e-3, s"mass ${pr.values.sum}")
    // the off-graph seed contributed nothing (K counted only a1):
    // uniform-PageRank by contrast is flat on this vertex-transitive-ish
    // graph, so the seed concentration must be real
    assert(pr("a1") > 1.0 / 7.0, pr.toString)
    // all seeds off-graph → reject
    intercept[IllegalArgumentException] {
      GraphRank.pagerankPersonalized(edges, "src", "dst",
        Seq("nope").toDF("node"), "node", iters = 2)
    }
  }

  test("pagerankWeighted: heavier edges carry more rank") {
    import spark.implicits._
    // s splits mass 3:1 between a and b; a and b return it equally
    val edges = Seq(("s", "a", 3.0), ("s", "b", 1.0),
      ("a", "s", 1.0), ("b", "s", 1.0)).toDF("src", "dst", "w")
    val pr = GraphRank.pagerankWeighted(edges, "src", "dst", "w", iters = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("a") > pr("b"), pr.toString)
    assert(math.abs(pr.values.sum - 1.0) < 1e-3)
    // zero/negative-weight edges are dropped
    val pr2 = GraphRank.pagerankWeighted(
      edges.union(Seq(("s", "b", -5.0)).toDF("src", "dst", "w")),
      "src", "dst", "w", iters = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr2 == pr)
  }

  test("triangles releases its edge cache after materializing the result") {
    // the r14 cache-lifecycle experiments (PERF.md): explicit unpersist
    // of relations still referenced as SUBPLANS of live cached plans was
    // measured 1.5-5× slower (hits iterates, pagerank eDeg/nodes) — those
    // stay with the ContextCleaner. Triangles is the one shape where the
    // result is materialized into its OWN cache first, so releasing the
    // multi-consumer edge relation is safe and measured 1.6× faster.
    import spark.implicits._
    val e0 = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
    val edges = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    GraphRank.triangles(edges, "src", "dst").collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.size <= 1, s"triangles leaked ${after.size} caches")
  }

  test("closenessTruncated: exact bounded distances, min-dist, no-out rule") {
    import spark.implicits._
    // directed path a→b→c→d at maxHops=2
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val rs = GraphRank.closenessTruncated(path, "src", "dst", maxHops = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rs("a").getLong(1) == 2L && rs("a").getLong(2) == 3L)
    assert(rs("a").getDouble(3) == 2.0 / 3.0)
    assert(rs("a").getDouble(4) == 1.5) // 1/1 + 1/2, exact images
    assert(rs("c").getLong(1) == 1L && rs("c").getDouble(4) == 1.0)
    // d has no out-edges → zero reach → absent from the readout
    assert(!rs.contains("d"))
    // shortcut wins: a→b→c AND a→c directly → c at distance 1
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val a = GraphRank.closenessTruncated(tri, "src", "dst", maxHops = 2)
      .collect().find(_.getString(0) == "a").get
    assert(a.getLong(1) == 2L && a.getLong(2) == 2L && a.getDouble(4) == 2.0)
    // 2-cycle: the round trip back to yourself is NOT a reach
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val c = GraphRank.closenessTruncated(cyc, "src", "dst", maxHops = 2)
      .collect()
    assert(c.length == 2 && c.forall(_.getLong(1) == 1L))
  }

  test("linkPrediction: square fixture scores, edge exclusion, hub cap") {
    import spark.implicits._
    // square a-b-c-d-a: the only non-edge pairs are the two diagonals,
    // each with BOTH off-diagonal corners as common neighbors
    val sq = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val rs = GraphRank.linkPrediction(sq, "src", "dst").collect()
    assert(rs.length == 2)
    val aaTerm =
      math.floor(1.0 / math.log(2.0) * 1048576.0 + 0.5) / 1048576.0
    for (r <- rs) {
      assert(Set(("a", "c"), ("b", "d"))((r.getString(0), r.getString(1))))
      assert(r.getLong(2) == 2L && r.getLong(3) == 2L && r.getLong(4) == 2L)
      assert(r.getDouble(5) == 1.0) // 2/(2+2−2)
      assert(math.abs(r.getDouble(6) - 2.0 * aaTerm) < 1e-9)
      assert(r.getDouble(7) == 1.0) // 2 · 1/2
    }
    // triangle: every co-neighbor pair is already an edge → no output
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    assert(GraphRank.linkPrediction(tri, "src", "dst").count() == 0L)
    // 5-leaf star: the center intermediates C(5,2)=10 pairs — unless
    // the hub cap drops it from pair generation entirely
    val star = (1 to 5).map(i => ("z", s"l$i")).toDF("src", "dst")
    assert(GraphRank.linkPrediction(star, "src", "dst").count() == 10L)
    assert(GraphRank.linkPrediction(star, "src", "dst",
      maxHubDegree = 4L).count() == 0L)
  }

  test("hits: star endorsement graph separates hubs from authorities") {
    import spark.implicits._
    val edges = Seq(("a", "c"), ("b", "c"), ("b", "d")).toDF("src", "dst")
    val h = GraphRank.hits(edges, "src", "dst", iters = 6)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // b links to both authorities → best hub; c has two endorsers → best
    // authority; pure authorities have zero hub score and vice versa
    assert(h("b")._1 > h("a")._1, h.toString)
    assert(h("c")._2 > h("d")._2, h.toString)
    assert(h("c")._1 == 0.0 && h("d")._1 == 0.0)
    assert(h("a")._2 == 0.0 && h("b")._2 == 0.0)
    // hub and authority vectors are unit L2 (up to fixed-point rounding)
    val hubNorm = math.sqrt(h.values.map(v => v._1 * v._1).sum)
    assert(math.abs(hubNorm - 1.0) < 1e-4, s"hub norm $hubNorm")
  }

  test("hitsConverged: bit-identical to hits at the capped iters; " +
    "early stop halts on a stationary fixed-point image") {
    import spark.implicits._
    val edges = Seq(("a", "c"), ("b", "c"), ("b", "d"), ("c", "a"))
      .toDF("src", "dst")
    val (scores, deltas) = GraphRank.hitsConverged(edges, "src", "dst",
      maxIters = 4, earlyStop = false)
    assert(deltas.length == 4)
    val got = scores.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = GraphRank.hits(edges, "src", "dst", iters = 4).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == want, s"$got vs $want")
    // a symmetric 2-cycle settles immediately: round 2's images repeat
    // round 1's, so earlyStop ends the loop the first time delta == 0
    val cyc = Seq(("x", "y"), ("y", "x")).toDF("src", "dst")
    val (_, d2) = GraphRank.hitsConverged(cyc, "src", "dst",
      maxIters = 10, earlyStop = true)
    assert(d2.nonEmpty && d2.last == 0L && d2.length < 10,
      s"deltas $d2")
  }

  test("tailIndex: Hill fold matches a hand computation; small n rejects") {
    import spark.implicits._
    val vals = (1 to 20).map(i => (i.toLong, math.pow(1.5, i)))
    val df = vals.toDF("id", "v")
    val r = graft.operators.SkewDiag.tailIndex(df, "v", k = 5,
      tiebreakers = Seq("id")).head()
    assert(r.getLong(0) == 20L && r.getLong(1) == 5L)
    // top 5 desc: 1.5^20..1.5^16; threshold 1.5^15
    val thr = math.pow(1.5, 15)
    assert(r.getDouble(2) == thr)
    val want = 5.0 / (16 to 20).reverse
      .foldLeft(0.0)((a, i) => a + math.log(math.pow(1.5, i) / thr))
    assert(math.abs(r.getDouble(3) - want) < 1e-12, s"alpha ${r.getDouble(3)}")
    intercept[IllegalArgumentException] {
      graft.operators.SkewDiag.tailIndex(df.limit(6), "v", k = 5,
        tiebreakers = Seq("id"))
    }
  }

  test("labelPropagation: disjoint triangles converge to their min label") {
    import spark.implicits._
    val t1 = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"))
    val t2 = Seq(("b1", "b2"), ("b2", "b3"), ("b3", "b1"))
    val all = t1 ++ t2
    val edges = (all ++ all.map(_.swap)).toDF("src", "dst")
    val got = GraphRank.labelPropagation(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a1", "a2", "a3").forall(got(_) == "a1"), got.toString)
    assert(Seq("b1", "b2", "b3").forall(got(_) == "b1"), got.toString)
    // deterministic across runs
    val again = GraphRank.labelPropagation(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == got)
  }

  test("communityConductance: bridged triangles — exact cut/vol/ratio") {
    import spark.implicits._
    // two triangles bridged by one edge; perfect 2-community partition
    val t1 = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"))
    val t2 = Seq(("b1", "b2"), ("b2", "b3"), ("b3", "b1"))
    val all = t1 ++ t2 :+ (("a1", "b1"))
    val edges = (all ++ all.map(_.swap)).toDF("src", "dst")
    val labels = Seq("a1", "a2", "a3").map(_ -> "A") ++
      Seq("b1", "b2", "b3").map(_ -> "B")
    val got = GraphRank.communityConductance(edges, "src", "dst",
        labels.toDF("node", "community"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // per side: 6 intra directed edges + 1 outgoing bridge = vol 7,
    // cut 1, E = 14, min(7, 7) = 7
    assert(got("A") == ((3L, 7L, 1L, 1.0 / 7.0)), got.toString)
    assert(got("B") == ((3L, 7L, 1L, 1.0 / 7.0)), got.toString)
  }

  test("modularity: bridged triangles — exact decomposition and Q") {
    import spark.implicits._
    val t1 = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"))
    val t2 = Seq(("b1", "b2"), ("b2", "b3"), ("b3", "b1"))
    val all = t1 ++ t2 :+ (("a1", "b1"))
    val edges = (all ++ all.map(_.swap)).toDF("src", "dst")
    val labels = (Seq("a1", "a2", "a3").map(_ -> "A") ++
      Seq("b1", "b2", "b3").map(_ -> "B")).toDF("node", "community")
    val got = GraphRank.modularity(edges, "src", "dst", labels)
      .collect()
    // per side: vol 7, cut 1, intra 6, E 14;
    // dq = 6/14 − (7/14)² = 3/7 − 1/4; Q = 2·dq = 5/14
    val dq = 6.0 / 14.0 - (7.0 / 14.0) * (7.0 / 14.0)
    got.foreach { r =>
      assert(r.getLong(1) == 3L && r.getLong(2) == 7L &&
        r.getLong(3) == 1L && r.getLong(4) == 6L, r.toString)
      assert(math.abs(r.getDouble(5) - dq) < 1e-15, r.toString)
      assert(math.abs(r.getDouble(6) - 2.0 * dq) < 1e-15, r.toString)
    }
    // the all-in-one-community partition scores Q = 0 (intra = vol)
    val one = (Seq("a1", "a2", "a3", "b1", "b2", "b3").map(_ -> "X"))
      .toDF("node", "community")
    val q1 = GraphRank.modularity(edges, "src", "dst", one).head()
    assert(q1.getDouble(6) == 0.0, q1.toString)
  }

  test("pagerankConverged: deltas shrink, early stop at the stationary " +
    "fixed-point image, ranks equal the plain operator") {
    import spark.implicits._
    val t1 = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"))
    val edges = (t1 ++ t1.map(_.swap)).toDF("src", "dst")
    // a symmetric triangle settles after one quantization step (the
    // first round moves each node by one fp unit — fp(1/6) rounds —
    // then the image is stationary and early stop fires)
    val (r1, d1) = GraphRank.pagerankConverged(edges, "src", "dst",
      maxIters = 10)
    assert(d1.length < 10 && d1.last == 0L, d1.toString)
    // an asymmetric graph converges gradually: deltas non-increasing,
    // and earlyStop=false reproduces pagerank(iters = k) bit-for-bit
    val star = Seq(("h", "x"), ("h", "y"), ("x", "h"), ("y", "h"),
      ("x", "y")).toDF("src", "dst")
    val (rc, dc) = GraphRank.pagerankConverged(star, "src", "dst",
      maxIters = 4, earlyStop = false)
    assert(dc.length == 4 && dc.head > 0L)
    assert(dc.zip(dc.tail).forall { case (a, b) => b <= a }, dc.toString)
    val got = rc.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = GraphRank.pagerank(star, "src", "dst", iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == exp, s"$got vs $exp")
  }

  test("attributeAssortativity: bridged triangles exact r; " +
    "single class answers NULL") {
    import spark.implicits._
    val t1 = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"))
    val t2 = Seq(("b1", "b2"), ("b2", "b3"), ("b3", "b1"))
    val all = t1 ++ t2 :+ (("a1", "b1"))
    val edges = (all ++ all.map(_.swap)).toDF("src", "dst")
    val labels = (Seq("a1", "a2", "a3").map(_ -> "A") ++
      Seq("b1", "b2", "b3").map(_ -> "B")).toDF("node", "attr")
    // 14 directed edges, 12 intra → trace 6/7; marginals 7/14 each side
    // per class → agreement 1/2; r = (6/7 − 1/2)/(1 − 1/2) = 5/7
    val r = GraphRank.attributeAssortativity(edges, "src", "dst", labels)
      .head()
    assert(r.getLong(0) == 14L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 12.0 / 14.0, r.toString)
    assert(math.abs(r.getDouble(3) - 0.5) < 1e-15, r.toString)
    assert(math.abs(r.getDouble(4) - 5.0 / 7.0) < 1e-15, r.toString)
    // one class → agreement 1 → NULL r (0/0 refused honestly)
    val one = Seq("a1", "a2", "a3", "b1", "b2", "b3").map(_ -> "X")
      .toDF("node", "attr")
    val r1 = GraphRank.attributeAssortativity(edges, "src", "dst", one)
      .head()
    assert(r1.getDouble(2) == 1.0 && r1.isNullAt(4), r1.toString)
    // perfectly disassortative: bipartite edges only → trace 0, r < 0
    val bip = Seq(("a1", "b1"), ("b1", "a1"), ("a2", "b2"), ("b2", "a2"))
      .toDF("src", "dst")
    val rb = GraphRank.attributeAssortativity(bip, "src", "dst", labels)
      .head()
    assert(rb.getDouble(2) == 0.0 && rb.getDouble(4) < 0.0, rb.toString)
  }

  test("modularityWeighted: volume-scaled decomposition; all-ones " +
    "weights equal the unweighted answer") {
    import spark.implicits._
    val t1 = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"))
    val t2 = Seq(("b1", "b2"), ("b2", "b3"), ("b3", "b1"))
    val all = t1 ++ t2 :+ (("a1", "b1"))
    val sym = all ++ all.map(_.swap)
    val labels = (Seq("a1", "a2", "a3").map(_ -> "A") ++
      Seq("b1", "b2", "b3").map(_ -> "B")).toDF("node", "community")
    // intra edges weigh 2, the bridge 1: vol = 13, cut = 1, intra = 12,
    // E = 26; dq = 12/26 − (13/26)²
    val weighted = sym.map { case (u, v) =>
      (u, v, if (u.head == v.head) 2.0 else 1.0)
    }.toDF("src", "dst", "w")
    val got = GraphRank.modularityWeighted(weighted, "src", "dst", "w",
      labels).collect()
    val dq = 12.0 / 26.0 - (13.0 / 26.0) * (13.0 / 26.0)
    got.foreach { r =>
      assert(r.getDouble(2) == 13.0 && r.getDouble(3) == 1.0 &&
        r.getDouble(4) == 12.0, r.toString)
      assert(math.abs(r.getDouble(5) - dq) < 1e-15, r.toString)
      assert(math.abs(r.getDouble(6) - 2.0 * dq) < 1e-15, r.toString)
    }
    // weight ≡ 1 reduces to the unweighted decomposition exactly
    val ones = sym.map { case (u, v) => (u, v, 1.0) }.toDF("src", "dst", "w")
    val w1 = GraphRank.modularityWeighted(ones, "src", "dst", "w", labels)
      .collect().map(r => r.getString(0) -> (r.getDouble(5), r.getDouble(6)))
      .toMap
    val u1 = GraphRank.modularity(sym.toDF("src", "dst"), "src", "dst",
        labels)
      .collect().map(r => r.getString(0) -> (r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(w1 == u1, s"$w1 vs $u1")
  }

  test("labelPropagationConverged: early stop equals fixed-iteration " +
    "labels; change counts non-increasing on the toy graph") {
    import spark.implicits._
    val t1 = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"))
    val t2 = Seq(("b1", "b2"), ("b2", "b3"), ("b3", "b1"))
    val all = t1 ++ t2
    val edges = (all ++ all.map(_.swap)).toDF("src", "dst")
    val (labels, changes) = GraphRank.labelPropagationConverged(
      edges, "src", "dst", maxIters = 10)
    // converges well before the cap: last round changed nothing
    assert(changes.length < 10 && changes.last == 0L, changes.toString)
    assert(changes.zip(changes.tail).forall { case (a, b) => b <= a },
      s"not non-increasing: $changes")
    val gotConv = labels.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // equivalent to the plain operator run for the same round count
    val gotFixed = GraphRank.labelPropagation(
        edges, "src", "dst", iters = changes.length)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotConv == gotFixed)
    // earlyStop=false runs exactly maxIters rounds, same labels as the
    // lazy-plan operator (the gate-trajectory contract)
    val (l3, c3) = GraphRank.labelPropagationConverged(
      edges, "src", "dst", maxIters = 3, earlyStop = false)
    assert(c3.length == 3)
    val got3 = l3.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val exp3 = GraphRank.labelPropagation(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got3 == exp3)
  }

  test("mannWhitneyUByGroup: each slice equals the single-slice test") {
    import graft.pipeline.Report
    import spark.implicits._
    val s1 = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 2.0), ("B", 4.0), ("B", 5.0))
    val s2 = s1.map { case (v, x) => (v, -x) } // flipped ordering
    val df = (s1.map { case (v, x) => ("seg1", v, x) } ++
      s2.map { case (v, x) => ("seg2", v, x) }).toDF("seg", "variant", "x")
    val sliced = Report.mannWhitneyUByGroup(df, "seg", "variant", "x")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val g1 = Report.mannWhitneyU(s1.toDF("variant", "x"), "variant", "x")
      .head().toSeq
    val g2 = Report.mannWhitneyU(s2.toDF("variant", "x"), "variant", "x")
      .head().toSeq
    assert(sliced("seg1") == g1, s"${sliced("seg1")} vs $g1")
    assert(sliced("seg2") == g2, s"${sliced("seg2")} vs $g2")
    // the flipped slice answers the opposite-signed z
    val z1 = sliced("seg1").last.asInstanceOf[Double]
    val z2 = sliced("seg2").last.asInstanceOf[Double]
    assert(z1 == -z2 && z1 < 0.0, s"$z1 / $z2")
  }

  test("ksTwoSample: exact D and smallest attaining value; identical " +
    "samples → 0; ≠2 variants → NULL") {
    import graft.pipeline.Report
    import spark.implicits._
    // A = {1,2,3,4}, B = {3,4,5,6}: |4·C_A − 4·C_B| over the value grid
    // = 4,8,8,8,4,0 → D = 8/16 = 0.5 first attained at x = 2
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("A", _)) ++
      Seq(3.0, 4.0, 5.0, 6.0).map(("B", _))).toDF("variant", "x")
    val r = Report.ksTwoSample(df, "variant", "x").head()
    assert(r.getLong(0) == 2L && r.getString(1) == "A" &&
      r.getString(2) == "B" && r.getLong(3) == 4L && r.getLong(4) == 4L,
      r.toString)
    assert(r.getDouble(5) == 0.5 && r.getDouble(6) == 2.0, r.toString)
    // identical samples: every prefix difference is 0 → D = 0, location
    // the smallest observed value
    val same = (Seq(1.0, 2.0, 5.0).map(("A", _)) ++
      Seq(1.0, 2.0, 5.0).map(("B", _))).toDF("variant", "x")
    val r0 = Report.ksTwoSample(same, "variant", "x").head()
    assert(r0.getDouble(5) == 0.0 && r0.getDouble(6) == 1.0, r0.toString)
    // disjoint supports: D = 1 (total separation)
    val far = (Seq(1.0, 2.0).map(("A", _)) ++
      Seq(9.0, 10.0).map(("B", _))).toDF("variant", "x")
    val r1 = Report.ksTwoSample(far, "variant", "x").head()
    assert(r1.getDouble(5) == 1.0 && r1.getDouble(6) == 2.0, r1.toString)
    // three variants: observed count, NULL d/d_at (the family's rule)
    val three = Seq(("A", 1.0), ("B", 2.0), ("C", 3.0)).toDF("variant", "x")
    val r3 = Report.ksTwoSample(three, "variant", "x").head()
    assert(r3.getLong(0) == 3L && r3.isNullAt(5) && r3.isNullAt(6),
      r3.toString)
    // agreement with the classical statistic on a mixed random-ish
    // fixture WITH cross-variant ties
    val mixed = (Seq(1.0, 2.0, 2.0, 3.0, 7.0).map(("A", _)) ++
      Seq(2.0, 3.0, 3.0, 8.0).map(("B", _))).toDF("variant", "x")
    val rm = Report.ksTwoSample(mixed, "variant", "x").head()
    // hand: grid 1,2,3,7,8; C_A = 1,3,4,5,5; C_B = 0,1,3,3,4;
    // |4C_A − 5C_B| = 4,7,1,5,0 → D = 7/20 at x = 2
    assert(rm.getDouble(5) == 7.0 / 20.0 && rm.getDouble(6) == 2.0,
      rm.toString)
  }

  test("ksTwoSampleByGroup: each slice equals the single-slice test; " +
    "many-partition prefix still exact") {
    import graft.pipeline.Report
    import spark.implicits._
    val s1 = Seq(1.0, 2.0, 3.0, 4.0).map(("A", _)) ++
      Seq(3.0, 4.0, 5.0, 6.0).map(("B", _))
    val s2 = Seq(1.0, 2.0, 2.0, 3.0, 7.0).map(("A", _)) ++
      Seq(2.0, 3.0, 3.0, 8.0).map(("B", _))
    val df = (s1.map { case (v, x) => ("seg1", v, x) } ++
      s2.map { case (v, x) => ("seg2", v, x) }).toDF("seg", "variant", "x")
    val sliced = Report.ksTwoSampleByGroup(df, "seg", "variant", "x")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(sliced("seg1") ==
      Report.ksTwoSample(s1.toDF("variant", "x"), "variant", "x")
        .head().toSeq, sliced("seg1").toString)
    assert(sliced("seg2") ==
      Report.ksTwoSample(s2.toDF("variant", "x"), "variant", "x")
        .head().toSeq, sliced("seg2").toString)
    // hand values survive the composite prefix: 0.5@2 and 7/20@2
    assert(sliced("seg1")(5) == 0.5 && sliced("seg1")(6) == 2.0)
    assert(sliced("seg2")(5) == 7.0 / 20.0 && sliced("seg2")(6) == 2.0)
    // a wide fixture forces value runs to straddle range partitions:
    // per-slice offsets must stitch the prefix exactly (D = 1/2 by
    // construction: A = 1..1000, B = 501..1500 per slice)
    val wide = (for {
      seg <- Seq("g1", "g2"); i <- 1 to 1000
    } yield (seg, "A", i.toDouble)) ++ (for {
      seg <- Seq("g1", "g2"); i <- 501 to 1500
    } yield (seg, "B", i.toDouble))
    val wr = Report.ksTwoSampleByGroup(
      wide.toDF("seg", "variant", "x").repartition(16), "seg", "variant", "x")
      .collect().map(r => (r.getString(0), r.getDouble(6), r.getDouble(7)))
    assert(wr.toSeq == Seq(("g1", 0.5, 500.0), ("g2", 0.5, 500.0)),
      wr.mkString(";"))
  }

  test("welchTByGroup / cliffsDeltaByGroup: each slice equals the " +
    "single-slice operator, WITH within-slice cross-variant ties") {
    import graft.pipeline.Report
    import spark.implicits._
    // tie blocks straddle variants in both slices (the r16 advice
    // lesson): x=2.0 held by one A and two B rows, x=3.0 by one of each
    val s1 = Seq(("A", 1.0), ("A", 2.0), ("B", 2.0), ("B", 2.0),
      ("B", 3.0), ("A", 3.0), ("B", 5.0))
    val s2 = Seq(("A", 4.0), ("A", 4.0), ("B", 4.0), ("B", 4.0),
      ("A", 7.0), ("B", 7.0))
    val df = (s1.map { case (v, x) => ("seg1", v, x) } ++
      s2.map { case (v, x) => ("seg2", v, x) }).toDF("seg", "variant", "x")
    val ws = Report.welchTByGroup(df, "seg", "variant", "x")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(ws("seg1") ==
      Report.welchT(s1.toDF("variant", "x"), "variant", "x").head().toSeq,
      ws("seg1").toString)
    assert(ws("seg2") ==
      Report.welchT(s2.toDF("variant", "x"), "variant", "x").head().toSeq,
      ws("seg2").toString)
    val cs = Report.cliffsDeltaByGroup(df, "seg", "variant", "x")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(cs("seg1") ==
      Report.cliffsDelta(s1.toDF("variant", "x"), "variant", "x")
        .head().toSeq, cs("seg1").toString)
    assert(cs("seg2") ==
      Report.cliffsDelta(s2.toDF("variant", "x"), "variant", "x")
        .head().toSeq, cs("seg2").toString)
    // hand check seg1 delta via min-ranks (same blocks as the U test):
    // Σ2R_A = 19 ⇒ 2U_A = 7, n_A·n_B = 12 ⇒ δ = (7−12)/12
    assert(cs("seg1")(6).asInstanceOf[Double] == (7.0 - 12.0) / 12.0,
      cs("seg1").toString)
    // a slice with ≠2 variants answers NULL t/dof resp. u_a/δ/magnitude
    val three = Seq(("seg3", "A", 1.0), ("seg3", "B", 2.0),
      ("seg3", "C", 3.0), ("seg3", "A", 4.0), ("seg3", "B", 5.0),
      ("seg3", "C", 6.0)).toDF("seg", "variant", "x")
    val w3 = Report.welchTByGroup(three, "seg", "variant", "x").head()
    assert(w3.getLong(1) == 3L && w3.isNullAt(10) && w3.isNullAt(11),
      w3.toString)
    val c3 = Report.cliffsDeltaByGroup(three, "seg", "variant", "x").head()
    assert(c3.getLong(1) == 3L && c3.isNullAt(6) && c3.isNullAt(7) &&
      c3.isNullAt(8), c3.toString)
  }

  test("mannWhitneyUByGroup: within-slice ties split ACROSS variants " +
    "still equal the single-slice test (min-ranks, not row_number)") {
    import graft.pipeline.Report
    import spark.implicits._
    // tie blocks straddle variants: x=2.0 held by one A and two B rows,
    // x=3.0 by one of each — row_number ranks would split these blocks
    // arbitrarily across variants and desync U/z from the min-rank oracle
    val s1 = Seq(("A", 1.0), ("A", 2.0), ("B", 2.0), ("B", 2.0),
      ("B", 3.0), ("A", 3.0), ("B", 5.0))
    val s2 = Seq(("A", 4.0), ("A", 4.0), ("B", 4.0), ("B", 4.0),
      ("A", 7.0), ("B", 7.0))
    val df = (s1.map { case (v, x) => ("seg1", v, x) } ++
      s2.map { case (v, x) => ("seg2", v, x) }).toDF("seg", "variant", "x")
    val sliced = Report.mannWhitneyUByGroup(df, "seg", "variant", "x")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val g1 = Report.mannWhitneyU(s1.toDF("variant", "x"), "variant", "x")
      .head().toSeq
    val g2 = Report.mannWhitneyU(s2.toDF("variant", "x"), "variant", "x")
      .head().toSeq
    assert(sliced("seg1") == g1, s"${sliced("seg1")} vs $g1")
    assert(sliced("seg2") == g2, s"${sliced("seg2")} vs $g2")
    // hand check seg1: min-ranks 1,(2,2,2),(5,5),7 → 2R = 2·min + c − 1:
    // A rows x=1→2, x=2→6, x=3→11 ⇒ Σ2R_A = 19,
    // 2U_A = 19 − n_A(n_A+1) = 7 ⇒ U_A = 3.5
    val uA = sliced("seg1")(5).asInstanceOf[Double]
    assert(uA == 3.5, s"u_a $uA")
    // tie term Σ_rows(c²−1): block of 3 → 3·8, block of 2 → 2·3
    val tie = sliced("seg1")(7).asInstanceOf[Double]
    assert(tie == 24.0 + 6.0, s"tie_term $tie")
  }

  test("welchT: hand-computed t/dof; degenerate NULLs") {
    import graft.pipeline.Report
    import spark.implicits._
    // A={1,2,3}: m=2, s²=1; B={2,4,6,8}: m=5, s²=20/3 — every double
    // restated below in the operator's exact op order
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 2.0), ("B", 4.0), ("B", 6.0), ("B", 8.0)).toDF("g", "x")
    val r = Report.welchT(df, "g", "x").head()
    assert(r.getLong(0) == 2L && r.getString(1) == "A" &&
      r.getString(2) == "B" && r.getLong(3) == 3L && r.getLong(4) == 4L)
    val ma = 6.0 / 3.0; val mb = 20.0 / 4.0
    val s2a = (14.0 - 3.0 * ma * ma) / 2.0
    val s2b = (120.0 - 4.0 * mb * mb) / 3.0
    assert(r.getDouble(5) == ma && r.getDouble(6) == mb)
    assert(r.getDouble(7) == s2a && r.getDouble(8) == s2b,
      s"${r.getDouble(7)} / ${r.getDouble(8)}")
    val vna = s2a / 3.0; val vnb = s2b / 4.0; val se2 = vna + vnb
    assert(r.getDouble(9) == (ma - mb) / math.sqrt(se2), s"t ${r.getDouble(9)}")
    val dof = (se2 * se2) / ((vna * vna) / 2.0 + (vnb * vnb) / 3.0)
    assert(r.getDouble(10) == dof, s"dof ${r.getDouble(10)}")
    // one variant → NULL t/dof with the observed count
    val one = Report.welchT(df.where(F.col("g") === "A"), "g", "x").head()
    assert(one.getLong(0) == 1L && one.isNullAt(9) && one.isNullAt(10))
    // n_b = 1 → NULL (no variance estimate)
    val tiny = Report.welchT(Seq(("A", 1.0), ("A", 2.0), ("B", 9.0))
      .toDF("g", "x"), "g", "x").head()
    assert(tiny.isNullAt(9) && tiny.isNullAt(10))
    // both variants constant → zero standard error → NULL
    val flat = Report.welchT(Seq(("A", 5.0), ("A", 5.0), ("B", 7.0),
      ("B", 7.0)).toDF("g", "x"), "g", "x").head()
    assert(flat.isNullAt(9) && flat.isNullAt(10))
  }

  test("cliffsDelta: dominance endpoints, tie midpoint, magnitude bands") {
    import graft.pipeline.Report
    import spark.implicits._
    def delta(rows: Seq[(String, Double)]): (Double, String) = {
      val r = Report.cliffsDelta(rows.toDF("g", "x"), "g", "x").head()
      (r.getDouble(6), r.getString(7))
    }
    // B completely dominates A: every cross pair a < b → δ = −1
    assert(delta(Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0))) ==
      (-1.0, "large"))
    // A completely dominates B → δ = +1
    assert(delta(Seq(("A", 3.0), ("A", 4.0), ("B", 1.0), ("B", 2.0))) ==
      (1.0, "large"))
    // interleaved: pairs (1,2)<, (1,3)<, (4,2)>, (4,3)> → δ = 0
    assert(delta(Seq(("A", 1.0), ("A", 4.0), ("B", 2.0), ("B", 3.0))) ==
      (0.0, "negligible"))
    // a single tied pair contributes ½ to U_A → δ = 0
    assert(delta(Seq(("A", 2.0), ("B", 2.0))) == (0.0, "negligible"))
    // A={3,5} vs B={1,2,4,6}: 5 of 8 cross pairs won, 3 lost →
    // δ = (5−3)/8 = 0.25 → "small" band
    assert(delta(Seq(("A", 3.0), ("A", 5.0), ("B", 1.0), ("B", 2.0),
      ("B", 4.0), ("B", 6.0))) == (0.25, "small"))
    // one variant → NULL δ/magnitude
    val one = Report.cliffsDelta(Seq(("A", 1.0), ("A", 2.0)).toDF("g", "x"),
      "g", "x").head()
    assert(one.getLong(0) == 1L && one.isNullAt(6) && one.isNullAt(7))
  }

  test("seasonalDailyByGroup: each slice equals the single-slice operator") {
    import graft.pipeline.Report
    import spark.implicits._
    def ts(day: Int, copies: Int): Seq[java.sql.Timestamp] =
      Seq.fill(copies)(java.sql.Timestamp.valueOf(
        f"2024-01-${day}%02d 12:00:00"))
    // slice p: weekday-heavy; slice q: inverted pattern over 2 weeks
    val p = (1 to 14).flatMap(d => ts(d, if (d % 7 < 2) 1 else 3))
      .map(("p", _))
    val q = (1 to 14).flatMap(d => ts(d, if (d % 7 < 2) 4 else 2))
      .map(("q", _))
    val df = (p ++ q).toDF("g", "ts")
    val grouped = Report.seasonalDailyByGroup(df, "g", "ts")
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(3), r.getDouble(4), r.getDouble(5), Option(r.get(6))))
      .toMap
    for (slice <- Seq("p", "q")) {
      val single = Report.seasonalDaily(df.where(F.col("g") === slice), "ts")
        .collect().map(r => r.getDate(0).toString ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), Option(r.get(5))))
        .toMap
      assert(single.nonEmpty)
      single.foreach { case (day, want) =>
        assert(grouped((slice, day)) == want, s"$slice/$day")
      }
    }
  }

  test("cusumDailyByGroup: each slice ramps against ITS OWN mean, equals " +
    "the single-slice operator") {
    import graft.pipeline.Report
    import spark.implicits._
    def ts(day: Int, copies: Int): Seq[java.sql.Timestamp] =
      Seq.fill(copies)(java.sql.Timestamp.valueOf(
        f"2024-02-${day}%02d 09:00:00"))
    // slice p shifts UP mid-series; slice q is flat — a corpus-wide mean
    // would smear p's shift into q's ramps
    val p = (1 to 10).flatMap(d => ts(d, if (d > 5) 8 else 2)).map(("p", _))
    val q = (1 to 10).flatMap(d => ts(d, 4)).map(("q", _))
    val df = (p ++ q).toDF("g", "ts")
    val grouped = Report.cusumDailyByGroup(df, "g", "ts", slack = 1.0)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    for (slice <- Seq("p", "q")) {
      val single = Report.cusumDaily(df.where(F.col("g") === slice), "ts",
          slack = 1.0)
        .collect().map(r => r.getDate(0).toString ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(single.nonEmpty)
      single.foreach { case (day, want) =>
        assert(grouped((slice, day)) == want, s"$slice/$day")
      }
    }
    // flat slice never ramps (|cnt − mean| = 0 < slack)
    assert(grouped.filter(_._1._1 == "q").values
      .forall(v => v._2 == 0.0 && v._3 == 0.0), "flat slice ramped")
    // the shifted slice's hi ramp is strictly positive at the end
    assert(grouped(("p", "2024-02-10"))._2 > 0.0, grouped.toString)
  }

  test("kruskalWallis: hand-computed H on three tie-free groups; " +
    "degenerate NULLs") {
    import graft.pipeline.Report
    import spark.implicits._
    // A={1,2} B={3,4} C={5,6}: ranks 1..6, R=(3,7,11), S=89.5,
    // H = 12/42·89.5 − 21 = 32/7; no ties → h_corrected == h
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0),
      ("C", 5.0), ("C", 6.0)).toDF("g", "x")
    val r = Report.kruskalWallis(df, "g", "x").head()
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L && r.getDouble(2) == 0.0)
    val n = 6.0
    val sExact = ((6.0 / 2.0) * (6.0 / 2.0)) / 2.0 +
      ((14.0 / 2.0) * (14.0 / 2.0)) / 2.0 +
      ((22.0 / 2.0) * (22.0 / 2.0)) / 2.0
    val h = (12.0 / (n * (n + 1.0))) * sExact - 3.0 * (n + 1.0)
    assert(r.getDouble(3) == h, s"h ${r.getDouble(3)} vs $h")
    assert(r.getDouble(4) == h / 1.0, "tie-free correction is identity")
    // identical groups → H = 0 under full tie correction? all values
    // tied → correction denominator 0 → NULL h_corrected, h defined
    val tied = Seq(("A", 5.0), ("B", 5.0), ("C", 5.0)).toDF("g", "x")
    val rt = Report.kruskalWallis(tied, "g", "x").head()
    assert(!rt.isNullAt(3) && rt.isNullAt(4), rt.toString)
    // single group → NULL h (the observed-count rule)
    val one = Seq(("A", 1.0), ("A", 2.0)).toDF("g", "x")
    val r1 = Report.kruskalWallis(one, "g", "x").head()
    assert(r1.getLong(1) == 1L && r1.isNullAt(3) && r1.isNullAt(4))
  }

  test("spearmanCorr: monotone nonlinear = 1, reversed = -1, " +
    "tie midranks exact") {
    import graft.pipeline.Report
    import spark.implicits._
    val mono = Seq((1.0, 1.0), (2.0, 8.0), (3.0, 27.0), (4.0, 64.0))
      .toDF("x", "y")
    val r = Report.spearmanCorr(mono, "x", "y").head()
    assert(r.getLong(0) == 4L && math.abs(r.getDouble(1) - 1.0) < 1e-12)
    val anti = Seq((1.0, 64.0), (2.0, 27.0), (3.0, 8.0), (4.0, 1.0))
      .toDF("x", "y")
    val ra = Report.spearmanCorr(anti, "x", "y").head()
    assert(math.abs(ra.getDouble(1) + 1.0) < 1e-12)
    // Pearson on the same monotone data is NOT 1 (the point of Spearman)
    val pear = Report.mergeCorrStamps(Report.corrStamp(mono, "x", "y"))
      .head().getDouble(1)
    assert(pear < 0.999, s"pearson $pear")
    // tie block: x=(1,1,2) midranks (1.5,1.5,3) — hand-check via the
    // stamp algebra on explicit midranks
    val tied = Seq((1.0, 5.0), (1.0, 6.0), (2.0, 7.0)).toDF("x", "y")
    val rt = Report.spearmanCorr(tied, "x", "y").head()
    val byHand = Report.mergeCorrStamps(Report.corrStamp(
      Seq((1.5, 1.0), (1.5, 2.0), (3.0, 3.0)).toDF("mx", "my"),
      "mx", "my")).head().getDouble(1)
    assert(rt.getDouble(1) == byHand, s"${rt.getDouble(1)} vs $byHand")
  }

  test("seasonalDaily: per-weekday baseline, hand-computed z; " +
    "single-sample weekdays answer NULL z") {
    import graft.pipeline.Report
    import spark.implicits._
    // two Mondays (2024-01-01, 2024-01-08: counts 10, 20) + one Tuesday
    val rows =
      Seq.fill(10)("2024-01-01 10:00:00") ++
      Seq.fill(20)("2024-01-08 10:00:00") ++
      Seq.fill(7)("2024-01-02 10:00:00")
    val df = rows.toDF("s").select(F.col("s").cast("timestamp").as("ts"))
    val got = Report.seasonalDaily(df, "ts").collect()
    // Mondays: mean 15, ex2 = (100+400)/2 = 250, std = sqrt(250-225) = 5
    val m1 = got(0); val tu = got(1); val m2 = got(2)
    assert(m1.getLong(1) == m2.getLong(1) && m1.getLong(1) != tu.getLong(1))
    assert(m1.getDouble(3) == 15.0 && m1.getDouble(4) == 5.0, m1.toString)
    assert(m1.getDouble(5) == -1.0 && m2.getDouble(5) == 1.0,
      s"$m1 / $m2")
    // the lone Tuesday: std 0 → NULL z, mean = its own count
    assert(tu.getDouble(3) == 7.0 && tu.getDouble(4) == 0.0 &&
      tu.isNullAt(5), tu.toString)
  }

  test("cusumDaily: hand-computed two-sided ramps; empty answers no rows") {
    import graft.pipeline.Report
    import spark.implicits._
    val rows =
      Seq.fill(10)("2024-01-01 10:00:00") ++
      Seq.fill(20)("2024-01-02 10:00:00") ++
      Seq.fill(40)("2024-01-03 10:00:00")
    val df = rows.toDF("s").select(F.col("s").cast("timestamp").as("ts"))
    val got = Report.cusumDaily(df, "ts", slack = 0.0)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val mu = 70.0 / 3.0
    def ramp(sign: Double, cnts: Seq[Long]): Double =
      cnts.foldLeft(0.0) { (acc, c) =>
        math.max(0.0, acc + (sign * (c.toDouble - mu) - 0.0))
      }
    val cnts = Seq(10L, 20L, 40L)
    (1 to 3).foreach { i =>
      assert(got(i - 1)._1 == cnts(i - 1))
      assert(got(i - 1)._2 == ramp(1.0, cnts.take(i)), s"hi at $i")
      assert(got(i - 1)._3 == ramp(-1.0, cnts.take(i)), s"lo at $i")
    }
    // downward shift accumulates in the LO ramp only
    assert(got(0)._2 == 0.0 && got(0)._3 > 0.0)
    val none = Seq.empty[String].toDF("s")
      .select(F.col("s").cast("timestamp").as("ts"))
    assert(Report.cusumDaily(none, "ts").count() == 0L)
  }

  test("mannWhitneyU: hand-computed U, ties, and z; degenerate NULLs") {
    import graft.pipeline.Report
    import spark.implicits._
    // A = {1, 2, 3}, B = {2, 4, 5}: one tie pair at 2
    // min-ranks: 1→1, 2→2 (t=2), 3→4, 4→5, 5→6
    // 2R_A = (2·1+0) + (2·2+1) + (2·4+0) = 15 → R_A = 7.5
    // U_A = 7.5 − 6 = 1.5; U_B = 9 − 1.5 = 7.5; T = 2³−2 = 6
    val df = (Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 2.0), ("B", 4.0), ("B", 5.0))).toDF("variant", "x")
    val r = Report.mannWhitneyU(df, "variant", "x").head()
    assert(r.getLong(0) == 2L && r.getString(1) == "A" && r.getString(2) == "B")
    assert(r.getLong(3) == 3L && r.getLong(4) == 3L)
    assert(r.getDouble(5) == 1.5 && r.getDouble(6) == 7.5, r.toString)
    assert(r.getDouble(7) == 6.0, r.toString)
    val n = 6.0
    val sigma = math.sqrt(((3.0 * 3.0) / 12.0) *
      ((n + 1.0) - 6.0 / (n * (n - 1.0))))
    assert(math.abs(r.getDouble(8) - (1.5 - 4.5) / sigma) < 1e-15, r.toString)
    // all values tied → sigma 0 → NULL z
    val tied = Seq(("A", 7.0), ("A", 7.0), ("B", 7.0)).toDF("variant", "x")
    assert(Report.mannWhitneyU(tied, "variant", "x").head().isNullAt(8))
    // one variant → NULL z, observed count 1 (the ANSI-safe rule)
    val one = Seq(("A", 1.0), ("A", 2.0)).toDF("variant", "x")
    val r1 = Report.mannWhitneyU(one, "variant", "x").head()
    assert(r1.getLong(0) == 1L && r1.isNullAt(2) && r1.isNullAt(8))
  }

  test("kHopReach: exact path-graph reach; HyperBall ball tracks " +
    "exact+1 on small graphs") {
    import spark.implicits._
    // path a→b→c→d: reach_2(a)={b,c}, reach_2(b)={c,d}, reach_2(c)={d};
    // the sink d has no out-pairs and answers no row
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = GraphRank.kHopReach(path, "src", "dst", k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 1L), got.toString)
    val k3 = GraphRank.kHopReach(path, "src", "dst", k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(k3("a") == 3L, k3.toString)
    // HyperBall: HLL sketches are near-exact at toy cardinalities
    // (sparse mode), so ball_est == exact reach + 1 (the self element)
    val est = GraphRank.kHopReachApprox(path, "src", "dst", k = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq("a" -> 3.0, "b" -> 3.0, "c" -> 2.0, "d" -> 1.0).foreach {
      case (n, want) =>
        assert(math.abs(est(n) - want) < 0.01, s"$n: ${est(n)} vs $want")
    }
    // the scale path tracks the exact twin on the real graph shape too:
    // every documents-derived chain-block node within HLL error
    val ids = spark.range(0, 2000).select(F.col("id"))
    val e0 = ids.as("a").join(ids.as("b"),
        F.col("b.id") === F.col("a.id") + 1 && F.col("a.id") % 50 =!= 49)
      .select(F.col("a.id").cast("string").as("src"),
        F.col("b.id").cast("string").as("dst"))
    val edges = e0.union(e0.select(F.col("dst").as("src"),
      F.col("src").as("dst")))
    val exact = GraphRank.kHopReach(edges, "src", "dst", k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = GraphRank.kHopReachApprox(edges, "src", "dst", k = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the graph is SYMMETRIC, so every non-isolated node's 2-hop set
    // already contains itself (u→v→u): ball == exact reach, no +1
    approx.foreach { case (n, b) =>
      val want = exact(n).toDouble
      assert(math.abs(b - want) / want < 0.05, s"$n: $b vs $want")
    }
  }

  test("kCore: K4 survives k=2 peeling, the pendant chain dies; " +
    "converged rounds are no-ops") {
    import spark.implicits._
    // K4 on a..d (degree 3 each) + chain d-e-f (e: 2, f: 1)
    val k4 = for { x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
      if x < y } yield (x, y)
    val all = k4 ++ Seq(("d", "e"), ("e", "f"))
    val edges = (all ++ all.map(_.swap)).toDF("src", "dst")
    val got = GraphRank.kCore(edges, "src", "dst", k = 2, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // round 1 drops f (deg 1); round 2 drops e (its degree fell to 1);
    // K4 keeps degree 3 throughout
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L), got)
    // peeling is monotone: extra rounds past convergence change nothing
    val more = GraphRank.kCore(edges, "src", "dst", k = 2, iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(more == got)
    // k above the max degree empties the graph
    assert(GraphRank.kCore(edges, "src", "dst", k = 4, iters = 3)
      .count() == 0L)
  }

  test("sketchJsd: identical = 0, disjoint = ln 2, grid mismatch raises") {
    import graft.pipeline.Report
    import spark.implicits._
    // a fills bins 1..5 (values 1..49), b bins 7..11 (61..100 incl. the
    // overflow tail) — DISJOINT support, so jsd = ln 2 exactly
    val a = Report.quantileSketch(
      (1 to 49).map(_.toDouble).toDF("v"), "v", 0.0, 100.0, 10)
    val b = Report.quantileSketch(
      (61 to 100).map(_.toDouble).toDF("v"), "v", 0.0, 100.0, 10)
    val same = Report.sketchJsd(a, a).head()
    assert(same.getDouble(0) == 0.0 && same.getDouble(1) == 0.0, same)
    // outputs are quantized at 2^20 (the engine-portable rounding): the
    // disjoint case answers round(ln 2 · 2^20)/2^20 and jsd_norm exactly 1
    val dis = Report.sketchJsd(a, b).head()
    assert(math.abs(dis.getDouble(0) - math.log(2.0)) < 1e-6, dis)
    assert(dis.getDouble(1) == 1.0, dis)
    assert(dis.getLong(2) == 49L && dis.getLong(3) == 40L)
    val other = Report.quantileSketch(
      (1 to 49).map(_.toDouble).toDF("v"), "v", 0.0, 200.0, 10)
    val err = intercept[Exception] {
      Report.sketchJsd(a, other).collect()
    }
    assert(err.getMessage.contains("grids"), err.getMessage)
  }

  test("triangles: K3 + pendant, exact counts and coefficients") {
    import spark.implicits._
    // duplicate + reversed + self-loop edges must canonicalize away
    val edges = Seq(("1", "2"), ("2", "1"), ("2", "3"), ("1", "3"),
      ("3", "4"), ("4", "4")).toDF("src", "dst")
    val t = GraphRank.triangles(edges, "src", "dst")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(t("1") == ((2L, 1L, Some(1.0))))
    assert(t("3") == ((3L, 1L, Some(1.0 / 3.0))))
    assert(t("4") == ((1L, 0L, None)), "pendant: degree 1, no coefficient")
  }

  test("corrByGroup: per-group signs match the matrix") {
    import spark.implicits._
    val df = Seq(("g1", 1.0, 2.0), ("g1", 2.0, 4.0), ("g1", 3.0, 6.0),
      ("g2", 1.0, 3.0), ("g2", 2.0, 2.0), ("g2", 3.0, 1.0),
      ("g3", 1.0, 5.0), ("g3", 2.0, 5.0)).toDF("g", "x", "y")
    val m = graft.pipeline.Report.corrByGroup(df, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(m("g1").get > 0.999999)
    assert(m("g2").get < -0.999999)
    assert(m("g3").isEmpty, "zero y-variance answers NULL")
  }

  test("privacy: k-anonymity and l-diversity on a hand-built frame") {
    import spark.implicits._
    val df = Seq(
      ("US", "a", "x"), ("US", "a", "y"), ("US", "a", "x"),
      ("DE", "b", "x"), ("DE", "b", "x"),
      ("FR", "c", "z")).toDF("country", "seg", "diag")
    val ka = Privacy.kAnonymity(df, Seq("country", "seg"), 3).collect()
    assert(ka.length == 3)
    val byKey = ka.map(r => (r.getString(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(byKey == Set(("US", 3L, false), ("DE", 2L, true), ("FR", 1L, true)))
    val sum = Privacy.kAnonymitySummary(df, Seq("country", "seg"), 3).head()
    assert(sum.getLong(0) == 1L && sum.getLong(1) == 3L &&
      sum.getLong(2) == 3L && sum.getLong(3) == 6L)
    val ld = Privacy.lDiversity(df, Seq("country"), "diag", 2).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(ld == Set(("US", 2L, false), ("DE", 1L, true), ("FR", 1L, true)))
  }

  test("privacy: t-closeness — TVD per class incl. absent-value mass; " +
    "NULL sensitive rows excluded") {
    import spark.implicits._
    // global mix x=3, y=3 (p 0.5/0.5). class q=1: x,x,x,y → TVD =
    // ½(|3/4−½| + |1/4−½|) = 0.25; class q=2: y,y (x ABSENT) → TVD =
    // ½(|1−½| + ½) = 0.5 — the absent value's mass must count
    val df = (Seq((1, Some("x")), (1, Some("x")), (1, Some("x")),
      (1, Some("y")), (2, Some("y")), (2, Some("y")),
      (2, Option.empty[String]))).toDF("q", "s")
    val r = Privacy.tCloseness(df, Seq("q"), "s", threshold = 0.3)
      .collect().map(x => x.getInt(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4)))
      .toMap
    assert(r(1) == (4L, 2L, 0.25, false), r.toString)
    assert(r(2) == (2L, 1L, 0.5, true), r.toString)
    // a class matching the corpus mix exactly answers t = 0
    val even = Seq((1, "x"), (1, "y"), (2, "x"), (2, "y")).toDF("q", "s")
    val r0 = Privacy.tCloseness(even, Seq("q"), "s", threshold = 0.3)
      .collect().map(x => x.getInt(0) -> x.getDouble(3)).toMap
    assert(r0 == Map(1 -> 0.0, 2 -> 0.0), r0.toString)
  }

  test("privacy: ordered (EMD) t-closeness reproduces the Li/Li/V 2007 " +
    "paper example; degenerate grids answer 0") {
    import spark.implicits._
    // the paper's Example 2 (§3): salaries {3k..11k}, class A = {3,4,5}k
    // → t = 0.375; class B = {6,8,11}k → t = 1/6. Our integer identity:
    // Σ|N·C_i − n·G_i| = 81 resp. 36, t = Σ/(3·9·8)
    val df = Seq(("A", 3), ("A", 4), ("A", 5), ("B", 6), ("B", 8),
      ("B", 11), ("C", 7), ("C", 9), ("C", 10)).toDF("q", "sal")
    val r = Privacy.tClosenessOrdered(df, Seq("q"), "sal", threshold = 0.3)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4)))
      .toMap
    assert(r("A") == (3L, 3L, 81.0 / 216.0, true), r.toString)
    assert(r("B") == (3L, 3L, 36.0 / 216.0, false), r.toString)
    // TVD sees all three classes identically (each holds 3/9 distinct
    // values at equal mass) — the ordered metric is what separates the
    // clustered-low class from the spread one
    val tvd = Privacy.tCloseness(df, Seq("q"), "sal", threshold = 0.3)
      .collect().map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(tvd("A") == tvd("B") && tvd("B") == tvd("C"), tvd.toString)
    // single-value grid: no mass can move → t = 0, never a 0/0
    val one = Seq(("A", 5), ("B", 5)).toDF("q", "sal")
    val r1 = Privacy.tClosenessOrdered(one, Seq("q"), "sal", 0.3)
      .collect().map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(r1 == Map("A" -> 0.0, "B" -> 0.0), r1.toString)
    // NULL sensitive rows excluded; NULL QI groups like any other
    val withNulls = Seq((Some("A"), Some(3)), (Some("A"), Some(4)),
      (Option.empty[String], Some(3)), (Option.empty[String], Some(4)),
      (Some("A"), Option.empty[Int])).toDF("q", "sal")
    val rn = Privacy.tClosenessOrdered(withNulls, Seq("q"), "sal", 0.3)
      .collect()
    assert(rn.length == 2 && rn.map(_.getLong(1)).toSeq == Seq(2L, 2L),
      rn.mkString(";"))
  }

  test("correlationMatrix: exact signs, null on zero variance") {
    import spark.implicits._
    val df = Seq((1.0, 2.0, 3.0, 5.0), (2.0, 4.0, 2.0, 5.0),
      (3.0, 6.0, 1.0, 5.0)).toDF("x", "y", "z", "w")
    val m = graft.pipeline.Report.correlationMatrix(df, Seq("x", "y", "z", "w"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(m(("x", "y")).get > 0.999999, "y = 2x is perfectly correlated")
    assert(m(("x", "z")).get < -0.999999, "z is anti-correlated")
    assert(m(("w", "x")).isEmpty, "constant column has no correlation")
    assert(m.size == 6)
    // complete-case n: a row with a null in a TARGET column is excluded
    val withNull = df.union(Seq(
      (Option(4.0), Option.empty[Double], Option(0.0), Option(5.0)))
      .toDF("x", "y", "z", "w"))
    val n2 = graft.pipeline.Report.correlationMatrix(withNull, Seq("x", "y"))
      .head().getLong(2)
    assert(n2 == 3L)
  }

  test("chiSquared: ~0 for independent, n*(k-1) and V=1 for identical") {
    import graft.pipeline.Report
    import spark.implicits._
    // perfectly dependent: b == a over 3 values × 10 rows
    val dep = (1 to 30).map(i => (s"v${i % 3}", s"v${i % 3}")).toDF("a", "b")
    val r1 = Report.chiSquared(dep, "a", "b").head()
    assert(r1.getLong(0) == 30L && r1.getLong(2) == 3L && r1.getLong(3) == 3L)
    assert(r1.getLong(4) == 4L, "dof = (3-1)*(3-1)")
    assert(math.abs(r1.getDouble(5) - 60.0) < 1e-9, s"chi2 ${r1.getDouble(5)}")
    assert(math.abs(r1.getDouble(6) - 1.0) < 1e-12, "cramers_v = 1")
    // independent: all 9 combos equally likely → chi2 exactly 0
    val ind = (for (x <- 0 to 2; y <- 0 to 2; _ <- 1 to 4)
      yield (s"a$x", s"b$y")).toDF("a", "b")
    val r2 = Report.chiSquared(ind, "a", "b").head()
    assert(math.abs(r2.getDouble(5)) < 1e-9, s"chi2 ${r2.getDouble(5)}")
    // absent cells count: 2x2 with one empty cell
    val sk = (Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("x", "q")) ++
      Seq.fill(5)(("y", "p"))).toDF("a", "b")
    val r3 = Report.chiSquared(sk, "a", "b").head()
    // chi2 = sum over all 4 cells incl. (y,q) with o=0, e=5/3
    assert(r3.getDouble(5) > 0.0 && r3.getLong(1) == 3L)
  }

  test("ewmaDaily: hand-computed recurrence over three days") {
    import graft.pipeline.Report
    import spark.implicits._
    val rows =
      Seq.fill(10)("2024-01-01 10:00:00") ++
      Seq.fill(20)("2024-01-02 10:00:00") ++
      Seq.fill(40)("2024-01-03 10:00:00")
    val df = rows.toDF("s").select(F.col("s").cast("timestamp").as("ts"))
    val got = Report.ewmaDaily(df, "ts", alpha = 0.5)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((10L, 10.0), (20L, 15.0), (40L, 27.5)), got.toSeq)
    // empty (or all-NULL-ts) input answers zero rows, not an ANSI
    // element_at crash on the [1, 0] sequence (r14 advice)
    val none = Seq.empty[String].toDF("s")
      .select(F.col("s").cast("timestamp").as("ts"))
    assert(Report.ewmaDaily(none, "ts", alpha = 0.5).count() == 0L)
    val allNull = Seq[Option[String]](None, None).toDF("s")
      .select(F.col("s").cast("timestamp").as("ts"))
    assert(Report.ewmaDaily(allNull, "ts", alpha = 0.5).count() == 0L)
    // grouped face: each slice's recurrence is independent and equals
    // the single-slice operator on that slice's rows
    val g = (rows.map(("a", _)) ++
      Seq(("b", "2024-01-01 09:00:00"), ("b", "2024-01-02 09:00:00")))
      .toDF("g", "s")
      .select(F.col("g"), F.col("s").cast("timestamp").as("ts"))
    val gotG = Report.ewmaDailyByGroup(g, "g", "ts", alpha = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(gotG.filter(_._1 == "a").map(t => (t._2, t._3)).toSeq ==
      Seq((10L, 10.0), (20L, 15.0), (40L, 27.5)), gotG.toSeq)
    assert(gotG.filter(_._1 == "b").map(t => (t._2, t._3)).toSeq ==
      Seq((1L, 1.0), (1L, 1.0)), gotG.toSeq)
  }

  test("pca: reconstruction error ~0 for a rank-1 cloud under k=1") {
    import spark.implicits._
    val df = Seq(Tuple1(Array(1.0, 2.0)), Tuple1(Array(3.0, 6.0)),
      Tuple1(Array(5.0, 10.0)), Tuple1(Array(7.0, 14.0)))
      .toDF("embedding")
      .withColumn("id", F.monotonically_increasing_id())
    val ms = Pca.fitK(df, "embedding", 2, k = 1, iters = 8)
    val errs = Pca.reconstructionError(df, "id", "embedding", ms)
      .collect().map(_.getDouble(1))
    errs.foreach(e => assert(math.abs(e) < 1e-12, s"residual $e"))
    // a genuinely 2-D cloud keeps positive residuals under k=1
    val rnd = new scala.util.Random(23)
    val df2 = Seq.fill(100)(Array(rnd.nextGaussian() * 5.0,
      rnd.nextGaussian() * 2.0)).map(Tuple1(_)).toDF("embedding")
      .withColumn("id", F.monotonically_increasing_id())
    val ms2 = Pca.fitK(df2, "embedding", 2, k = 1, iters = 8)
    val tot = Pca.reconstructionError(df2, "id", "embedding", ms2)
      .agg(F.sum("err2")).head().getDouble(0)
    assert(tot > 0.0)
  }

  test("twoProportionZ: hand-computed pooled z; degenerate pools NULL") {
    import graft.pipeline.Report
    import spark.implicits._
    val units = (Seq.fill(8)(("A", 1L)) ++ Seq.fill(2)(("A", 0L)) ++
      Seq.fill(4)(("B", 1L)) ++ Seq.fill(6)(("B", 0L)))
      .toDF("variant", "conv")
    val r = Report.twoProportionZ(units, "variant", "conv").head()
    assert(r.getLong(0) == 2L && r.getString(1) == "A" && r.getString(2) == "B")
    assert(r.getLong(3) == 10L && r.getLong(5) == 8L && r.getLong(6) == 4L)
    val pp = 12.0 / 20.0
    val want = (0.8 - 0.4) /
      math.sqrt((pp * (1.0 - pp)) * ((1.0 / 10.0) + (1.0 / 10.0)))
    assert(math.abs(r.getDouble(9) - want) < 1e-12, s"z ${r.getDouble(9)}")
    // all-converted pool → z is NULL, not Infinity
    val allConv = Seq(("A", 1L), ("B", 1L)).toDF("variant", "conv")
    assert(Report.twoProportionZ(allConv, "variant", "conv").head().isNullAt(9))
    // fewer than two variants → the documented NULL-z row, not an ANSI
    // INVALID_ARRAY_INDEX crash (r14 advice)
    val one = Seq(("A", 1L), ("A", 0L), ("A", 1L)).toDF("variant", "conv")
    val r1 = Report.twoProportionZ(one, "variant", "conv").head()
    assert(r1.getLong(0) == 1L && r1.getString(1) == "A" && r1.isNullAt(2))
    assert(r1.getLong(3) == 3L && r1.isNullAt(4) && r1.isNullAt(9))
    val empty = Seq.empty[(String, Long)].toDF("variant", "conv")
    val r0 = Report.twoProportionZ(empty, "variant", "conv").head()
    assert(r0.getLong(0) == 0L && r0.isNullAt(1) && r0.isNullAt(9))
  }

  test("markovStationary: 2-state alternating chain settles at (0.5, 0.5)") {
    import graft.operators.Funnel
    import spark.implicits._
    // one user alternating A,B,A,B,A,B → P = [[0,1],[1,0]]; the uniform
    // start is already stationary, every iterate is exactly (0.5, 0.5)
    val ev = (0 until 6).map(i =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"),
        if (i % 2 == 0) "A" else "B", i.toLong))
      .toDF("user_id", "ts", "event_type", "event_id")
    val pi = Funnel.markovStationary(ev, "user_id", "ts", "event_type",
      "event_id", iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pi == Map("A" -> 0.5, "B" -> 0.5), pi.toString)
    // a biased chain concentrates on the sticky state: A→B always,
    // B→B three times per B→A → π(B) > π(A)
    val seq2 = "ABBBBABBBB".zipWithIndex.map { case (c, i) =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"),
        c.toString, i.toLong)
    }
    val pi2 = Funnel.markovStationary(seq2.toDF("user_id", "ts",
        "event_type", "event_id"), "user_id", "ts", "event_type",
      "event_id", iters = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pi2("B") > 0.6 && math.abs(pi2.values.sum - 1.0) < 1e-9, pi2.toString)
    // non-string type column: collected cells cast to string instead of
    // ClassCastException (r14 advice)
    val intTyped = (0 until 6).map(i =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"),
        i % 2, i.toLong))
      .toDF("user_id", "ts", "event_type", "event_id")
    val pi3 = Funnel.markovStationary(intTyped, "user_id", "ts",
        "event_type", "event_id", iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pi3 == Map("0" -> 0.5, "1" -> 0.5), pi3.toString)
  }

  test("benford: uniform 1-9 digits, expected shares sum to 1") {
    import spark.implicits._
    val df = (1 to 9).map(_.toDouble).toDF("v")
    val rows = graft.dq.Dq.benford(df, "v").collect()
    assert(rows.length == 9)
    rows.foreach { r =>
      assert(r.getLong(1) == 1L)
      assert(math.abs(r.getDouble(2) - 1.0 / 9.0) < 1e-12)
    }
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-12,
      "Benford expectations sum to 1")
    // digits stay clamped in [1, 9] across magnitudes incl. boundaries
    val wide = Seq(0.002, 0.97, 1.0, 9.999, 10.0, 999.0, 1000.0, 123456.0)
      .toDF("v")
    val ds = graft.dq.Dq.benford(wide, "v").collect()
    assert(ds.map(_.getLong(1)).sum == 8L, "all rows binned")
  }

  test("mutualInformation: zero for independent, H for identical") {
    import spark.implicits._
    // perfectly factorized 2×2 grid: joint = product of marginals → MI 0
    val indep = Seq(("a", "u"), ("a", "v"), ("b", "u"), ("b", "v"))
      .toDF("p", "q")
    val r0 = graft.pipeline.Report.mutualInformation(indep, "p", "q").head()
    assert(r0.getDouble(2) == 0.0, s"MI ${r0.getDouble(2)}")
    assert(r0.isNullAt(5) == false && math.abs(r0.getDouble(5)) < 1e-15)
    // y == x: MI = H(x), NMI = 1
    val same = Seq("a", "a", "b", "c").map(x => (x, x)).toDF("p", "q")
    val r1 = graft.pipeline.Report.mutualInformation(same, "p", "q").head()
    assert(math.abs(r1.getDouble(2) - r1.getDouble(3)) < 1e-12)
    assert(math.abs(r1.getDouble(5) - 1.0) < 1e-12)
    assert(r1.getLong(0) == 4L && r1.getLong(1) == 3L)
  }

  test("trainLogisticL2: shrinks feature weights, l2=0 is bit-identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = Seq.tabulate(400) { i =>
      val x = rnd.nextGaussian()
      (x, if (x + rnd.nextGaussian() * 0.3 > 0) 1.0 else 0.0)
    }.toDF("x1", "y")
    val w0 = QualityModel.trainLogistic(df, Seq("x1"), "y", iters = 5)
    val wSame = QualityModel.trainLogisticL2(df, Seq("x1"), "y", iters = 5,
      lr = 1.0, l2 = 0.0)
    assert(w0.toSeq == wSame.toSeq, "l2=0 must replay the base trajectory")
    val wReg = QualityModel.trainLogisticL2(df, Seq("x1"), "y", iters = 5,
      lr = 1.0, l2 = 0.5)
    assert(math.abs(wReg(1)) < math.abs(w0(1)),
      s"ridge must shrink the slope: ${wReg(1)} vs ${w0(1)}")
  }

  test("gini: uniform is near zero, concentrated is near one; groups split") {
    import spark.implicits._
    val uniform = Seq.tabulate(100)(i => (i.toLong, "u", 10.0))
      .toDF("id", "g", "v")
    val skewed = Seq.tabulate(100)(i =>
      (100L + i, "s", if (i == 99) 1000.0 else 0.0)).toDF("id", "g", "v")
    val g = graft.operators.Quantiles.giniByGroup(
      uniform.union(skewed), "g", "v", tiebreakers = Seq("id"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(g("u")) < 1e-9, s"uniform gini ${g("u")}")
    assert(g("s") > 0.98, s"concentrated gini ${g("s")}")
    val whole = graft.operators.Quantiles.gini(uniform, "v", Seq("id"))
      .head()
    assert(whole.getLong(0) == 100L && math.abs(whole.getDouble(2)) < 1e-9)
  }

  test("corr stamps: shard rollup is bit-equal to the direct matrix") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextDouble() * 10.0, rnd.nextDouble() * 5.0))
      .toDF("id", "x", "y")
    val direct = graft.pipeline.Report.correlationMatrix(df, Seq("x", "y"))
      .head().getDouble(3)
    val stamps = (0 until 3).map(m =>
      graft.pipeline.Report.corrStamp(df.where(F.col("id") % 3 === m),
        "x", "y")).reduce(_ unionByName _)
    val merged = graft.pipeline.Report.mergeCorrStamps(stamps).head()
    assert(merged.getLong(0) == 300L)
    assert(merged.getDouble(1) == direct, "rollup must be bit-equal")
  }

  test("rfm: distinct metrics score as clean quintile permutations") {
    import spark.implicits._
    // 5 users, one event each at increasing times and values: user u5
    // is most recent AND highest spend; frequency ties (all 1) break
    // by user id
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = (1 to 5).map(i => (s"u$i",
      new java.sql.Timestamp(base.getTime + i * 3600L * 1000L),
      i.toDouble)).toDF("user_id", "ts", "value")
    val r = graft.operators.Funnel.rfm(ev, "user_id", "ts", "value")
      .collect().map(x => x.getString(0) ->
        (x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    assert(r("u5") == ((5L, 5L, 5L)), r.toString)   // newest, top spend
    assert(r("u1")._1 == 1L && r("u1")._3 == 1L)    // stalest, lowest
    assert(r.values.map(_._1).toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L))
    // tied frequency: quintiles come from the user-id tiebreak, still a
    // permutation of 1..5
    assert(r.values.map(_._2).toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("sessionize: gap splits sessions, rollup is exact") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      ("a", 1L, ts(0L)), ("a", 2L, ts(100L)), ("a", 3L, ts(2000L)),
      ("b", 4L, ts(50L))).toDF("user_id", "event_id", "ts")
    val out = graft.operators.Funnel.sessionize(ev, "user_id", "ts",
      gapSec = 1800L, tiebreaker = "event_id").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(5))).toMap
    assert(out(("a", 0L)) == ((2L, 100L)), out.toString) // events 1,2
    assert(out(("a", 1L)) == ((1L, 0L)))                 // event 3 alone
    assert(out(("b", 0L)) == ((1L, 0L)))
    assert(out.size == 3)
  }

  test("readability: hand-computed counters and scores") {
    import spark.implicits._
    val df = Seq((1L, "The cat sat on the mat. It was flat!"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.readability(df, "doc_id", "text").head()
    assert(r.getLong(1) == 9L, s"words ${r.getLong(1)}")      // 9 tokens
    assert(r.getLong(2) == 2L, s"sentences ${r.getLong(2)}")
    // the-cat-sat-on-the-mat: 6; it-was-flat: 3  (one vowel group each)
    assert(r.getLong(3) == 9L, s"syllables ${r.getLong(3)}")
    val wps = 9.0 / 2.0; val spw = 9.0 / 9.0
    assert(r.getDouble(4) == 206.835 - 1.015 * wps - 84.6 * spw)
    assert(r.getDouble(5) == 0.39 * wps + 11.8 * spw - 15.59)
    // zero-word doc: NULL scores, floor-1 sentence count
    val z = TextAnalysis.readability(
      Seq((2L, "")).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(z.getLong(1) == 0L && z.isNullAt(4) && z.isNullAt(5))
  }

  test("global/per-group twins: xByGroup on one constant group equals x") {
    import spark.implicits._
    import graft.operators.Quantiles
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val raw = ((0 until 40).map { i =>
      ("g1", if (i % 3 == 0) "B" else "A",
        java.lang.Double.valueOf((i * 7 % 11).toDouble),
        new java.sql.Timestamp(t0 + ((i * 5 % 17) * 24L + i) * 3600000L))
    } ++ Seq(("g1", "A", null, new java.sql.Timestamp(t0)),
      ("g1", "B", java.lang.Double.valueOf(3.0), null)))
      .toDF("g", "variant", "x", "ts")
    // two stored "versions" of one group's sketch
    val sketches = Seq(raw.where(F.col("x") < 5.0), raw.where(F.col("x") >= 5.0))
      .map(Report.quantileSketch(_, "x", 0.0, 10.0, 5, Some("g")))
      .reduce(_ union _)
    // one near-dup pair (one word changed), one exact copy, one unrelated doc
    val docs = Seq(
      ("g1", 1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      ("g1", 2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      ("g1", 3L, "spark plans every shuffle before a single task of the job runs"),
      ("g1", 4L, "spark plans every shuffle before a single task of the job runs"),
      ("g1", 5L, "an unrelated sentence about quantile sketches and their merges"))
      .toDF("g", "id", "text")
    // (pair, input, x, xByGroup, the grouped side's key column, ordered)
    val twins: Seq[(String, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        String, Boolean)] = Seq(
      ("histogram", raw, Report.histogram(_, "x", 4),
        Report.histogramByGroup(_, "g", "x", 4), "g", false),
      ("mergeQuantileSketches", sketches, Report.mergeQuantileSketches(_),
        Report.mergeQuantileSketchesByGroup(_, "g"), "g", true),
      ("welchT", raw, Report.welchT(_, "variant", "x"),
        Report.welchTByGroup(_, "g", "variant", "x"), "group", true),
      ("cliffsDelta", raw, Report.cliffsDelta(_, "variant", "x"),
        Report.cliffsDeltaByGroup(_, "g", "variant", "x"), "group", true),
      ("mannWhitneyU", raw, Report.mannWhitneyU(_, "variant", "x"),
        Report.mannWhitneyUByGroup(_, "g", "variant", "x"), "group", true),
      ("seasonalDaily", raw, Report.seasonalDaily(_, "ts"),
        Report.seasonalDailyByGroup(_, "g", "ts"), "group", true),
      ("cusumDaily", raw, Report.cusumDaily(_, "ts", slack = 0.5),
        Report.cusumDailyByGroup(_, "g", "ts", slack = 0.5), "group", true),
      ("ewmaDaily", raw, Report.ewmaDaily(_, "ts", alpha = 0.4),
        Report.ewmaDailyByGroup(_, "g", "ts", alpha = 0.4), "group", true),
      ("gini", raw, Quantiles.gini(_, "x"),
        Quantiles.giniByGroup(_, "g", "x"), "group", true),
      ("minhashLshPairs", docs, Dedup.minhashLshPairs(_, "text", "id"),
        Dedup.minhashLshPairsGrouped(_, "text", "id", "g"), "group", false))
    // doubles compare by their raw bits, so -0.0/0.0 or NaN drift fails
    def bits(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
      rows.toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v         => v
      })
    twins.foreach { case (name, in, global, byGroup, key, ordered) =>
      val want = bits(global(in).collect())
      val got = bits(byGroup(in).drop(key).collect())
      assert(want.nonEmpty, name)
      if (ordered) assert(got == want, name)
      else assert(got.sortBy(_.toString) == want.sortBy(_.toString), name)
    }
  }
}
