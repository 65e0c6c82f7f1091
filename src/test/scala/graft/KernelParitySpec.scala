package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Similarity}

/** Bit-parity of the codegen'd hash-sketch kernels (SimHash64Expr,
  * LshBucketExpr) against their interpreted HOF reference formulations —
  * on the real documents/embeddings tables plus the null/empty edge cases
  * whose semantics the kernels contractually reproduce. */
class KernelParitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import TestSession.sf

  test("simhash64 kernel == HOF formulation on the documents corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mismatches = docs.select(
        Dedup.simhash64(F.col("text")).as("k"),
        HofOracles.simhash64Hof(F.col("text")).as("h"))
      .filter(F.col("k") =!= F.col("h") || F.col("k").isNull =!= F.col("h").isNull)
      .count()
    assert(mismatches == 0)
  }

  test("simhash64 kernel edge cases: null text and empty text fold to 0 votes") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, "one"))
      .toDF("id", "text")
    val rows = df.select(F.col("id"),
        Dedup.simhash64(F.col("text")).as("k"),
        HofOracles.simhash64Hof(F.col("text")).as("h"))
      .collect()
    rows.foreach { r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}") }
    // null text → 0L signature (HOF folds a null votes array to 0)
    assert(rows.find(_.getLong(0) == 1L).get.getLong(1) == 0L)
  }

  test("simhash60Md5 kernel == HOF formulation on the documents corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mismatches = docs.select(
        Dedup.simhash60Md5(F.col("text")).as("k"),
        HofOracles.simhash60Md5Hof(F.col("text")).as("h"))
      .filter(F.col("k") =!= F.col("h") || F.col("k").isNull =!= F.col("h").isNull)
      .count()
    assert(mismatches == 0)
  }

  test("simhash60Md5 kernel edge cases: null / empty / whitespace text") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, "one"),
        (5L, "a b a b a"))
      .toDF("id", "text")
    val rows = df.select(F.col("id"),
        Dedup.simhash60Md5(F.col("text")).as("k"),
        HofOracles.simhash60Md5Hof(F.col("text")).as("h"))
      .collect()
    rows.foreach { r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}") }
    // null text → 0L (the HOF's outer coalesce)
    assert(rows.find(_.getLong(0) == 1L).get.getLong(1) == 0L)
    // the hash itself matches the stated SQL form (top 60 md5 bits)
    val sql = df.where(F.col("id") === 4L).select(
      F.conv(F.substring(F.md5(F.lit("one")), 1, 15), 16, 10).cast("long"))
      .head().getLong(0)
    assert(graft.expressions.SimHash60Md5Expr.md5Top60(
      "one".getBytes("UTF-8")) == sql)
  }

  test("scriptStats kernel == regex formulation on mixed-script text") {
    import graft.pipeline.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the corpus is ASCII — append deterministic non-Latin snippets (the
    // q_text_scripts augmentation) plus a supplementary-plane char so
    // code-point totals are exercised beyond the BMP
    val aug = F.concat(F.col("text"),
      F.when(F.col("doc_id") % 5 === 0, F.lit(" Привет мир 123"))
        .when(F.col("doc_id") % 5 === 1, F.lit(" 你好世界 カナ 한글"))
        .when(F.col("doc_id") % 5 === 2, F.lit(" مرحبا بالعالم"))
        .when(F.col("doc_id") % 5 === 3, F.lit(" αβγ δέλτα À ɏ 😀"))
        .otherwise(F.lit(" plain 42")))
    val staged = docs.select(F.col("doc_id"), aug.as("t"),
      TextAnalysis.scriptStats(aug).as("ss"))
    val checks = TextAnalysis.ScriptRanges.map { case (name, range) =>
      (F.col("ss").getField(s"n_$name") =!=
        TextAnalysis.scriptCharCount(F.col("t"), range)).as(name)
    } :+ (F.col("ss").getField("n_chars") =!= F.char_length(F.col("t")))
      .as("chars")
    val bad = staged.filter(checks.reduce(_ || _)).count()
    assert(bad == 0, s"$bad rows diverge from the regex counters")
    // fraction + dominant-script faces agree with the regex forms
    val mismCols =
      Seq(TextAnalysis.dominantScriptFromStats(F.col("ss")).as("k"),
        TextAnalysis.dominantScript(F.col("t")).as("r")) ++
        TextAnalysis.scriptFractionsFromStats(F.col("ss"))
          .map { case (n, c) => c.as(s"k_$n") } ++
        TextAnalysis.scriptFractions(F.col("t"))
          .map { case (n, c) => c.as(s"r_$n") }
    val mism = staged.select(mismCols: _*)
      .filter(F.col("k") =!= F.col("r") ||
        TextAnalysis.ScriptRanges.map { case (n, _) =>
          F.col(s"k_frac_$n") =!= F.col(s"r_frac_$n")
        }.reduce(_ || _))
      .count()
    assert(mism == 0)
    // null text → null struct (UnaryExpression null propagation)
    import spark.implicits._
    val n = Seq((1L, null: String), (2L, "")).toDF("id", "t")
      .select(F.col("id"), TextAnalysis.scriptStats(F.col("t")).as("ss"))
      .collect()
    assert(n.find(_.getLong(0) == 1L).get.isNullAt(1))
    assert(n.find(_.getLong(0) == 2L).get.getStruct(1).getInt(6) == 0)
  }

  test("minhashSig kernel == HOF formulation on the documents corpus") {
    import graft.expressions.HashKernels
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sh = docs
      .select(F.col("doc_id"), Dedup.tokens(F.col("text")).as("toks"))
      .select(F.col("doc_id"), Dedup.shinglesFromTokens(F.col("toks"), 3).as("sh"))
    val k = 32
    val hof = F.array((0 until k).map(seed =>
      F.array_min(F.transform(F.col("sh"), s => F.xxhash64(F.lit(seed), s)))): _*)
    val mismatches = sh.select(
        HashKernels.minhashSig(F.col("sh"), k).as("kk"), hof.as("hh"))
      .filter(F.col("kk") =!= F.col("hh"))
      .count()
    assert(mismatches == 0)
  }

  test("minhashSig kernel edge cases: empty shingles → null slots; null → null") {
    import graft.expressions.HashKernels
    import spark.implicits._
    val df = Seq((1L, Array("a b c", "b c d")), (2L, Array.empty[String]),
      (3L, null: Array[String])).toDF("id", "sh")
    val rows = df.select(F.col("id"), HashKernels.minhashSig(F.col("sh"), 4).as("s"))
      .collect()
    assert(rows.find(_.getLong(0) == 1L).get.getSeq[Long](1).length == 4)
    // empty → 4 null slots (array_min-of-empty semantics per slot)
    assert(rows.find(_.getLong(0) == 2L).get.getSeq[Any](1).forall(_ == null))
    // null input → null signature (kernel-documented; the old HOF form gave
    // an array of nulls here — minhashLshPairs filters these out either way)
    assert(rows.find(_.getLong(0) == 3L).get.isNullAt(1))
  }

  test("winnow and token-set-hits kernels == HOF formulations on the corpus") {
    import graft.pipeline.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Seq(1, 4, 9).foreach { w =>
      val mm = docs.select(
          TextAnalysis.winnowFingerprint(F.col("text"), w).as("k"),
          HofOracles.winnowFingerprintHof(F.col("text"), w).as("h"))
        .filter(F.col("k") =!= F.col("h")).count()
      assert(mm == 0, s"w=$w")
    }
    // token-set hits vs the filter/isin form, occurrences included
    val toks = TextAnalysis.tokens(F.col("text"))
    val words = TextAnalysis.stopwords.toMap.apply("en")
    val mm2 = docs.select(
        graft.expressions.TextKernels.tokenSetHits(toks, words).as("k"),
        F.size(F.filter(toks, t => t.isin(words: _*))).as("h"))
      .filter(F.col("k") =!= F.col("h")).count()
    assert(mm2 == 0)
    // mean token length: array_join total == aggregate fold total
    val mm3 = docs.select(
        TextAnalysis.meanTokenLength(F.col("text")).as("k"),
        (F.aggregate(toks, F.lit(0L), (acc, t) => acc + F.char_length(t))
          .cast("double") / F.size(toks)).as("h"))
      .filter(F.col("k") =!= F.col("h")).count()
    assert(mm3 == 0)
  }

  test("lshBucket kernel == HOF formulation on the embeddings table") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Seq(0, 1, 4, 8, 16).foreach { nbits => // 0 = single-bucket exact mode
      val mismatches = emb.select(
          Similarity.lshBucket(F.col("embedding"), nbits).as("k"),
          HofOracles.lshBucketHof(F.col("embedding"), nbits).as("h"))
        .filter(F.col("k") =!= F.col("h"))
        .count()
      assert(mismatches == 0, s"nbits=$nbits")
    }
  }

  test("lshBucket kernel edge cases: null vector, null element, empty, double") {
    import spark.implicits._
    val df = Seq(
      (1L, null: Array[java.lang.Double]),
      (2L, Array[java.lang.Double](1.0, null, 3.0)),
      (3L, Array[java.lang.Double]()),
      (4L, Array[java.lang.Double](0.5, -1.5, 2.5, 0.0))
    ).toDF("id", "v")
    val rows = df.select(F.col("id"),
        Similarity.lshBucket(F.col("v"), 8).as("k"),
        HofOracles.lshBucketHof(F.col("v"), 8).as("h"))
      .collect()
    rows.foreach { r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}") }
    // null vector and null element both collapse to bucket 0
    assert(rows.find(_.getLong(0) == 1L).get.getLong(1) == 0L)
    assert(rows.find(_.getLong(0) == 2L).get.getLong(1) == 0L)
  }
}
