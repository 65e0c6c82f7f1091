package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import TestSession.sf

  def docs = spark.read.parquet(s"$sf/documents.parquet")
  def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("connected components match union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n).map(i => i.toLong -> {
        // component = min node id reachable — min over members of the root's set
        val r = find(i)
        (0 until n).filter(j => find(j) == r).min.toLong
      }).toMap
      val got = graft.pipeline.Clustering.connectedComponents(
          edges.toDF("src", "dst"), "src", "dst",
          nodes = Some((0L until n.toLong).toDF("node")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("connected components: long chain converges in logarithmic rounds") {
    import spark.implicits._
    // a 200-node path: label propagation would need 200 rounds; the star
    // algorithm must finish within the 30-round guard or throw
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = graft.pipeline.Clustering.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(1)).distinct
    assert(comp.toSeq == Seq(0L))
  }

  test("dedup clusters: minhash pairs collapse to one representative per group") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id", 32, 8, 3, 0.9)
    val ids = docs.select("doc_id")
    val clusters = graft.pipeline.Clustering.dedupClusters(
      pairs, "a", "b", nodes = Some(ids))
    // every doc assigned; representatives are exactly the component minima
    assert(clusters.count() == docs.count())
    val bad = clusters.filter(F.col("keep") =!= (F.col("node") === F.col("component"))).count()
    assert(bad == 0)
    // survivors + members partition the corpus
    val survivors = clusters.filter(F.col("keep")).count()
    val members = clusters.select("component").distinct().count()
    assert(survivors == members)
  }

  test("grouped minhash: candidates never cross the group key; within-group " +
    "pairs equal the single-group operator") {
    import spark.implicits._
    // identical near-dup text planted in BOTH langs: the global operator
    // would pair doc 1 with doc 11 across langs; the grouped one must not
    val base = (0 until 40).map(i => s"tok${i}a tok${i}b tok${i}c").mkString(" ")
    val nearDup = base + " one extra trailing clause here"
    val rows = Seq(
      (1L, "en", base), (2L, "en", nearDup),
      (11L, "de", base), (12L, "de", nearDup),
      (3L, "en", (100 until 140).map(i => s"z$i").mkString(" ")))
    val df = rows.toDF("doc_id", "lang", "text")
    val grouped = Dedup.minhashLshPairsGrouped(df, "text", "doc_id", "lang",
        k = 32, bands = 32, n = 3, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(grouped == Set(("en", 1L, 2L), ("de", 11L, 12L)), grouped.toString)
    // each group's pairs == the global operator run on that group alone
    for (lang <- Seq("en", "de")) {
      val single = Dedup.minhashLshPairs(df.where(F.col("lang") === lang),
          "text", "doc_id", k = 32, bands = 32, n = 3, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val mine = Dedup.minhashLshPairsGrouped(df, "text", "doc_id", "lang",
          k = 32, bands = 32, n = 3, threshold = 0.5)
        .where(F.col("group") === lang)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(mine == single, s"$lang: $mine vs $single")
    }
  }

  test("fuzzy pairs: blocked levenshtein finds exactly the near-identical names") {
    import spark.implicits._
    val df = Seq(
      (1L, "Acme Corp"), (2L, "Acme Corp."), (3L, "Acme Company"),
      (4L, "Beta LLC"), (5L, "Beta LLC"), (6L, "Zeta Ltd")).toDF("id", "name")
    val pairs = Dedup.fuzzyPairs(df, "name", "id", blockLen = 4, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (1,2): 1 edit; (4,5): identical; (1,3)/(2,3): > 2 edits; Zeta alone
    assert(pairs == Set((1L, 2L, 1), (4L, 5L, 0)))
  }

  test("decontamination flags exactly the docs sharing an eval n-gram") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated words appear here"),
      (3L, "another text with quick brown fox inside it"),
      (4L, "short one")).toDF("doc_id", "text")
    val evals = Seq((100L, "a quick brown fox story")).toDF("eval_id", "text")
    val flags = graft.pipeline.Decontaminate
      .overlapFlags(corpus, "text", "doc_id", evals, "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    val clean = graft.pipeline.Decontaminate
      .removeContaminated(corpus, "text", "doc_id", evals, "text", n = 3)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
  }

  test("data mix: deterministic, partition-independent, weight-proportional") {
    val report = graft.pipeline.DataMix.mixReport(docs, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.25), defaultWeight = 0.75)
    val rows = report.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // kept fraction lands near the weight for the big en slice
    val (enTotal, enKept) = rows("en")
    assert(math.abs(enKept.toDouble / enTotal - 0.5) < 0.15, rows("en"))
    // same decision regardless of partitioning
    val a = graft.pipeline.DataMix.sampleByWeights(docs, "doc_id", "lang",
      Map("en" -> 0.5)).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = graft.pipeline.DataMix.sampleByWeights(docs.repartition(7), "doc_id", "lang",
      Map("en" -> 0.5)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("exact dedup keeps one row per distinct text") {
    val out = Dedup.exact(docs, "text", "doc_id")
    assert(out.count() == docs.select("text").distinct().count())
    assert(out.agg(F.sum("n_copies")).head().getLong(0) == docs.count())
  }

  test("minhash LSH candidates recover high-jaccard pairs found exactly") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", 32, 8, 3, 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification makes precision exact; recall at j>=0.9 with 8x4 bands ≈ 1
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty && lsh == exact)
  }

  test("simhash: identical texts get identical signatures, hamming works") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
      (3L, "entirely different words here now")).toDF("id", "text")
    val sigs = df.select(F.col("id"), Dedup.simhash64(F.col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val d = df.limit(1).select(
      Dedup.hamming64(F.lit(sigs(1L)), F.lit(sigs(3L)))).head().getInt(0)
    assert(d > 0 && d <= 64)
  }

  test("brute-force ANN: top-1 of a vector that exists twice is itself-like") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(F.col("vec_id") < 3),
      "vec_id", "embedding", "vec_id", 5)
    val rows = out.collect()
    assert(rows.length == 15)
    // ranks are 1..5 per query, cosine non-increasing within a query
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5))
      val cosines = sorted.map(_.getDouble(3)).toSeq
      assert(cosines.zip(cosines.tail).forall { case (x, y) => x >= y })
    }
  }

  test("LSH ANN returns a subset ranking consistent with brute force") {
    val bf = Similarity.bruteForceTopK(emb, emb.filter(F.col("vec_id") === 0),
      "vec_id", "embedding", "vec_id", 50).select("nbr_id")
      .collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(emb, emb.filter(F.col("vec_id") === 0),
      "vec_id", "embedding", "vec_id", 10, nbits = 4)
    // every LSH result is a real corpus vector with a valid rank
    val rows = lsh.collect()
    assert(rows.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 10))
    assert(rows.nonEmpty)
    assert(bf.nonEmpty)
  }

  test("IVF index: clusters partition the corpus, search recall is sane") {
    val idx = Ivf.build(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(idx.centroids.length == 8)
    assert(idx.assigned.count() == emb.count())
    val clusters = idx.assigned.select("cluster").distinct().count()
    assert(clusters > 1 && clusters <= 8)
    // recall vs brute force at nprobe=8 (all clusters) must be exact
    val bf = Similarity.bruteForceTopK(emb, emb.filter(F.col("vec_id") === 0),
      "vec_id", "embedding", "vec_id", 10)
      .select("nbr_id").collect().map(_.getLong(0)).toSet
    val full = Ivf.topK(idx, emb.filter(F.col("vec_id") === 0),
      "vec_id", "embedding", k = 10, nprobe = 8)
      .select("nbr_id").collect().map(_.getLong(0)).toSet
    assert(full == bf) // probing every cluster == exact search
    val partial = Ivf.topK(idx, emb.filter(F.col("vec_id") === 0),
      "vec_id", "embedding", k = 10, nprobe = 2)
    assert(partial.count() <= 10 && partial.count() > 0)
  }

  test("multimodal: binary plumbing + partition decode + frame sampling") {
    val withBin = Multimodal.withBinaryContent(docs.limit(20), "text")
    assert(withBin.schema("content").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val decoded = Multimodal.decodePartitions(withBin, "video")
    val m = decoded.select("media_meta.kind", "media_meta.size_bytes",
      "media_meta.n_frames").head()
    assert(m.getString(0) == "video" && m.getLong(1) > 0)
    val frames = Multimodal.sampleFrames(decoded, everyNth = 5)
    val fcount = frames.groupBy("doc_id").count().head().getLong(1)
    assert(fcount >= 1)
    val resized = Multimodal.resizeStub(decoded, 224, 224)
    assert(resized.select("media_meta.width").head().getInt(0) == 224)
  }

  test("multimodal: real header decode for generated PNG/JPEG/GIF/BMP bytes") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics(); g.fillRect(0, 0, w, h); g.dispose()
      val out = new ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      out.toByteArray
    }
    val cases = Seq(
      ("png", 320, 200), ("jpg", 127, 33), ("gif", 64, 48), ("bmp", 17, 257))
    // direct sniff
    cases.foreach { case (fmt, w, h) =>
      val d = MediaHeaders.sniff(imageBytes(fmt, w, h))
      assert(d.isDefined, fmt)
      assert(d.get.width == w && d.get.height == h, s"$fmt ${d.get}")
    }
    assert(MediaHeaders.sniff("plain text, not an image".getBytes).isEmpty)
    assert(MediaHeaders.sniff(null).isEmpty)
    // through the distributed decode path
    val rows = cases.map { case (fmt, w, h) => (fmt, imageBytes(fmt, w, h), w, h) }
    import spark.implicits._
    val df = rows.toDF("fmt", "content", "w", "h")
    val decoded = Multimodal.decodePartitions(df, "image")
      .select("fmt", "media_meta.kind", "media_meta.width", "media_meta.height", "w", "h")
      .collect()
    decoded.foreach { r =>
      val fmt = if (r.getString(0) == "jpg") "jpeg" else r.getString(0)
      assert(r.getString(1) == fmt, r.toString)
      assert(r.getInt(2) == r.getInt(4) && r.getInt(3) == r.getInt(5), r.toString)
    }
  }

  test("language id prefers en on mixed stopwords, und on none") {
    import spark.implicits._
    val df = Seq("the cat and the dog", "xyzzy qwerty", "el perro y la gata de")
      .toDF("text")
    val got = df.select(TextAnalysis.langId(F.col("text"))).collect().map(_.getString(0))
    assert(got(0) == "en")
    assert(got(1) == "und")
    assert(got(2) == "es")
  }

  test("quality score is in [0,1] and penalizes repetition") {
    import spark.implicits._
    val df = Seq("the of and is that in a to good normal text here",
      "spam spam spam spam spam spam spam spam").toDF("text")
    val s = df.select(TextAnalysis.qualityScore(F.col("text"))).collect().map(_.getDouble(0))
    assert(s.forall(v => v >= 0.0 && v <= 1.0))
    assert(s(0) > s(1))
  }

  test("gopher signals: quality flags react to degenerate documents") {
    import spark.implicits._
    import graft.pipeline.QualityFilters
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and that is fine to be sure of it have with",
      "### ### ### ### ### ### ### ### ### ### ### ###",
      "a b c").toDF("text")
    val sig = QualityFilters.gopherSignals(F.col("text"))
    val rows = docs.select(sig.map { case (n, c) => c.as(n) }: _*).collect()
    assert(rows(0).getAs[Boolean]("passes_gopher"))
    // symbol-only doc: alpha fraction 0, symbol ratio >= 1 -> fails
    assert(rows(1).getAs[Double]("symbol_ratio") >= 1.0)
    assert(!rows(1).getAs[Boolean]("passes_gopher"))
    // too short
    assert(!rows(2).getAs[Boolean]("passes_gopher"))
  }

  test("top-ngram fraction finds the dominant bigram deterministically") {
    import spark.implicits._
    import graft.pipeline.QualityFilters
    val docs = Seq((1L, "x y x y x y z w")).toDF("doc_id", "text")
    val r = QualityFilters.topNgramFraction(docs, "doc_id", "text", 2).head()
    assert(r.getAs[String]("top_gram") == "x y")
    assert(r.getAs[Long]("top_gram_count") == 3L)
  }

  test("pii scrub replaces emails, phones, ips and counts them") {
    import spark.implicits._
    import graft.pipeline.QualityFilters
    val df = Seq("mail a.b+c@ex-ample.org call 555-1234 host 192.168.0.12 end")
      .toDF("t")
    val out = df.select(
      QualityFilters.scrubPii(F.col("t")).as("s") +:
        QualityFilters.piiCounts(F.col("t")).map { case (n, c) => c.as(n) }: _*).head()
    assert(out.getAs[String]("s") == "mail <EMAIL> call <PHONE> host <IP> end")
    assert(out.getAs[Int]("n_emails") == 1)
    assert(out.getAs[Int]("n_phones") == 1)
    assert(out.getAs[Int]("n_ips") == 1)
  }

  test("url normalize strips scheme/www/query/fragment/trailing slash") {
    import spark.implicits._
    import graft.pipeline.QualityFilters
    val df = Seq(
      "HTTPS://WWW.Example.COM/A/B/?q=1#top",
      "http://sub.site.org/path/",
      "ftp://files.net").toDF("u")
    val got = df.select(QualityFilters.normalizeUrl(F.col("u")).as("n"),
      QualityFilters.urlDomain(F.col("u")).as("d")).collect()
    assert(got(0).getString(0) == "example.com/a/b" && got(0).getString(1) == "example.com")
    assert(got(1).getString(0) == "sub.site.org/path" && got(1).getString(1) == "sub.site.org")
    assert(got(2).getString(0) == "files.net")
  }

  test("html strip removes tags, decodes entities, collapses whitespace") {
    import spark.implicits._
    import graft.pipeline.QualityFilters
    val df = Seq("<div><p>A &amp; B</p>  <br/> &lt;tag&gt; &quot;q&quot;</div>").toDF("h")
    val out = df.select(QualityFilters.stripHtml(F.col("h")).as("c"),
      QualityFilters.htmlTagCount(F.col("h")).as("n")).head()
    assert(out.getString(0) == "A & B <tag> \"q\"")
    assert(out.getInt(1) == 5)
  }

  test("c4 line filter keeps long terminal-punctuated lines only") {
    import spark.implicits._
    import graft.pipeline.QualityFilters
    val text = "one two three four five six.\nshort line.\nno punctuation here at all though long\nanother good line with enough words!"
    val df = Seq(text).toDF("t")
    val parts = QualityFilters.c4LineFilter(F.col("t"), minWords = 5)
    val out = df.select(parts.map { case (n, c) => c.as(n) }: _*).head()
    assert(out.getAs[Int]("n_lines_total") == 4)
    assert(out.getAs[Int]("n_lines_kept") == 2)
    assert(out.getAs[String]("kept_text") ==
      "one two three four five six.\nanother good line with enough words!")
  }

  test("duplicate lines: global keep-first attribution over one shuffle") {
    import spark.implicits._
    import graft.pipeline.QualityFilters
    val df = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),
      (3L, "beta\nalpha")).toDF("doc_id", "text")
    val dups = QualityFilters.duplicateLines(df, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._1)
    assert(dups.toSeq == Seq(
      ("alpha", 2L, 1L, 0),   // first seen in doc 1 at position 0
      ("beta", 3L, 1L, 1)))   // in all three docs; first in doc 1 pos 1
  }

  test("ivf: save/load round-trip serves identical searches, cluster-partitioned layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    val built = Ivf.build(emb, "vec_id", "embedding", k = 8, iters = 2)
    Ivf.save(built, dir)
    val loaded = Ivf.load(spark, dir)
    assert(loaded.centroids.length == built.centroids.length)
    built.centroids.zip(loaded.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq) // exact doubles through parquet
    }
    def res(ix: Ivf.Index) =
      Ivf.topK(ix, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(res(loaded) == res(built))
    // inverted lists land as cluster= partition directories (the layout
    // that gives probed scans partition pruning)
    val parts = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.getName.startsWith("cluster="))
    assert(parts.nonEmpty)

    // the parameter stamp: k/dim/corpus-size persisted with the index,
    // loaded back, and a stamp inconsistent with the stored centroids
    // fails at load instead of routing queries through wrong geometry
    val metaPath = java.nio.file.Paths.get(dir, "meta.json")
    assert(java.nio.file.Files.exists(metaPath))
    assert(loaded.nVectors == emb.count() && loaded.k == 8)
    val metaText = java.nio.file.Files.readString(metaPath)
    java.nio.file.Files.writeString(metaPath, metaText.replace("\"k\":8", "\"k\":9"))
    // the stamp is written through the Hadoop FS, so the local FS left a
    // .crc sidecar; a hand-edit invalidates it — drop it like any
    // out-of-band edit would on a store without client checksums
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".meta.json.crc"))
    val e = intercept[IllegalStateException](Ivf.load(spark, dir))
    assert(e.getMessage.contains("meta.json"))
    java.nio.file.Files.writeString(metaPath, metaText) // restore

    // AutoK geometry guard: a stamped index whose k is not what autoK
    // would choose for its corpus size fails loudly on the reuse path
    val restored = Ivf.load(spark, dir)
    val mism = intercept[IllegalStateException](
      graft.pipeline.SemDedup.requireAutoKGeometry(restored))
    assert(mism.getMessage.contains("AutoK"))
    graft.pipeline.SemDedup.requireAutoKGeometry(
      restored.copy(centroids = Array.fill(16)(Array(0.0)))) // autoK floor = 16
    // an unstamped (fresh-build) index is not checkable — no-op, no throw
    graft.pipeline.SemDedup.requireAutoKGeometry(built)
  }

  test("ivf: broadcast-join assignment strategy matches plan-literal strategy") {
    import spark.implicits._
    import graft.pipeline.Ivf
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 120)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextDouble()).toSeq))
      .toDF("id", "vec")
    val lit = Ivf.build(corpus, "id", "vec", k = 10, iters = 2,
      viaJoin = Some(false))
    val jn = Ivf.build(corpus, "id", "vec", k = 10, iters = 2,
      viaJoin = Some(true))
    // same centroids after identical Lloyd passes, modulo ULP noise: the
    // two strategies feed avg() in different partition orders
    lit.centroids.zip(jn.centroids).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
    // identical final assignment
    def asn(ix: Ivf.Index) = ix.assigned.select("id", "cluster")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(asn(lit) == asn(jn))
    // identical search results through both probe strategies
    val queries = corpus.limit(5)
    def res(v: Option[Boolean]) =
      Ivf.topK(lit, queries, "id", "vec", k = 3, nprobe = 3, viaJoin = v)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2)).toSeq
    assert(res(Some(false)) == res(Some(true)))
  }

  test("multimodal: real WAV header decode (rate/channels/bits/frames)") {
    // hand-built canonical PCM WAV: 2ch, 44100 Hz, 16-bit, 8 sample frames
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val dataBytes = 8 * 2 * 2
    val wav: Array[Byte] =
      "RIFF".getBytes ++ le32(36 + dataBytes) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
        le32(44100 * 2 * 2) ++ le16(4) ++ le16(16) ++
        "data".getBytes ++ le32(dataBytes) ++ Array.fill(dataBytes)(0.toByte)
    val m = MediaHeaders.sniffWav(wav).get
    assert(m == MediaHeaders.AudioMeta("wav", 44100, 2, 16, 8L))
    // header-only prefix (no data payload) still yields the format fields
    val hdrOnly = MediaHeaders.sniffWav(wav.take(44)).get
    assert(hdrOnly.sampleRate == 44100 && hdrOnly.channels == 2)
    // through the partition decoder: audio fields populated, dims null
    val row = Multimodal.decode("audio", wav)
    assert(row.getString(0) == "wav" && row.isNullAt(1) && row.isNullAt(2))
    assert(row.getInt(3) == 8 && row.getInt(5) == 44100 &&
      row.getInt(6) == 2 && row.getInt(7) == 16)
    // garbage bytes fall back to the stub, audio fields null
    val stub = Multimodal.decode("audio", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
    assert(stub.getString(0) == "audio" && stub.isNullAt(5))
    // corrupt chunk size near 2^32 must terminate, not loop: RIFF/WAVE with
    // a chunk whose le32 size is 0xFFFFFFF8
    val corrupt: Array[Byte] =
      "RIFF".getBytes ++ le32(100) ++ "WAVE".getBytes ++
        "junk".getBytes ++ le32(0xFFFFFFF8.toInt) ++ Array.fill(32)(0.toByte)
    assert(MediaHeaders.sniffWav(corrupt).isEmpty)
  }

  test("sharded export: per-column parquet bloom filters land in the footer") {
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    graft.pipeline.Export.writeSharded(
      docs.select("doc_id", "lang", "text"), out, format = "parquet",
      maxRecordsPerFile = 1000, bloomFilterCols = Seq("doc_id"))
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.map(_.toString)
      .find(p => p.contains("part-") && p.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val cols = reader.getRowGroups.get(0).getColumns.asScala
      val idCol = cols.find(_.getPath.toDotString == "doc_id").get
      assert(reader.readBloomFilter(idCol) != null,
        "doc_id must carry a bloom filter")
      val langCol = cols.find(_.getPath.toDotString == "lang").get
      assert(reader.readBloomFilter(langCol) == null,
        "lang must NOT carry one — the option is per-column")
    } finally reader.close()
    // non-parquet formats refuse the option instead of silently ignoring it
    intercept[IllegalArgumentException](graft.pipeline.Export.writeSharded(
      docs, out, format = "jsonl", bloomFilterCols = Seq("doc_id")))
  }

  test("multimodal: real FLAC/Ogg/WebP header decode") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def be32(v: Int) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def le24(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte)

    // FLAC: fLaC + last-block STREAMINFO header + 34-byte STREAMINFO
    // (44100 Hz, 2ch, 16-bit, 1000 total samples; packed per the spec)
    val flac: Array[Byte] =
      "fLaC".getBytes ++ Array(0x80.toByte, 0.toByte, 0.toByte, 34.toByte) ++
        le16(4096).reverse ++ le16(4096).reverse ++ // min/max block (BE)
        Array.fill(6)(0.toByte) ++                  // min/max frame size
        Array(0x0a.toByte, 0xc4.toByte, 0x42.toByte, 0xf0.toByte) ++
        be32(1000) ++ Array.fill(16)(0.toByte)      // total low 32 + md5
    assert(MediaHeaders.sniffFlac(flac).get ==
      MediaHeaders.AudioMeta("flac", 44100, 2, 16, 1000L))
    val flacRow = Multimodal.decode("audio", flac)
    assert(flacRow.getString(0) == "flac" && flacRow.getInt(5) == 44100 &&
      flacRow.getInt(6) == 2 && flacRow.getInt(7) == 16 && flacRow.getInt(3) == 1000)

    // Ogg Vorbis: one page, one segment, identification packet
    val vorbisPkt: Array[Byte] = Array(0x01.toByte) ++ "vorbis".getBytes ++
      le32(0) ++ Array(2.toByte) ++ le32(48000) ++ Array.fill(14)(0.toByte)
    val ogg: Array[Byte] = "OggS".getBytes ++ Array(0.toByte, 2.toByte) ++
      Array.fill(8)(0.toByte) ++ le32(1) ++ le32(0) ++ le32(0) ++
      Array(1.toByte, vorbisPkt.length.toByte) ++ vorbisPkt
    assert(MediaHeaders.sniffOgg(ogg).get ==
      MediaHeaders.AudioMeta("vorbis", 48000, 2, 0, 0L))

    // Ogg Opus: OpusHead (version 1, 2ch, preskip, 48000 input rate)
    val opusPkt: Array[Byte] = "OpusHead".getBytes ++
      Array(1.toByte, 2.toByte) ++ le16(312) ++ le32(48000) ++
      Array.fill(3)(0.toByte)
    val oggOpus: Array[Byte] = "OggS".getBytes ++ Array(0.toByte, 2.toByte) ++
      Array.fill(8)(0.toByte) ++ le32(2) ++ le32(0) ++ le32(0) ++
      Array(1.toByte, opusPkt.length.toByte) ++ opusPkt
    assert(MediaHeaders.sniffOgg(oggOpus).get ==
      MediaHeaders.AudioMeta("opus", 48000, 2, 0, 0L))

    // WebP VP8L (lossless): 0x2F + packed 14-bit minus-one dims
    val bits = (200 - 1) | ((100 - 1) << 14)
    val vp8l: Array[Byte] = "RIFF".getBytes ++ le32(17) ++ "WEBP".getBytes ++
      "VP8L".getBytes ++ le32(5) ++ Array(0x2f.toByte) ++ le32(bits)
    assert(MediaHeaders.sniff(vp8l).get ==
      MediaHeaders.ImageDims("webp", 200, 100))

    // WebP VP8X (extended): 24-bit LE canvas minus-one dims
    val vp8x: Array[Byte] = "RIFF".getBytes ++ le32(22) ++ "WEBP".getBytes ++
      "VP8X".getBytes ++ le32(10) ++ le32(0) ++ le24(639) ++ le24(479)
    assert(MediaHeaders.sniff(vp8x).get ==
      MediaHeaders.ImageDims("webp", 640, 480))

    // WebP lossy ("VP8 "): sync code then 14-bit LE dims
    val vp8: Array[Byte] = "RIFF".getBytes ++ le32(22) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ le32(10) ++ Array(0, 0, 0).map(_.toByte) ++
      Array(0x9d.toByte, 0x01.toByte, 0x2a.toByte) ++ le16(320) ++ le16(240)
    assert(MediaHeaders.sniff(vp8).get ==
      MediaHeaders.ImageDims("webp", 320, 240))
    val webpRow = Multimodal.decode("image", vp8)
    assert(webpRow.getString(0) == "webp" && webpRow.getInt(1) == 320 &&
      webpRow.getInt(2) == 240)

    // truncated/garbage bytes refuse loudly
    assert(MediaHeaders.sniffFlac("fLaC".getBytes).isEmpty)
    assert(MediaHeaders.sniffOgg("OggS".getBytes ++ Array.fill(30)(9.toByte)).isEmpty)
  }

  test("incremental dedup: history rejection + in-batch collapse, exactly") {
    import spark.implicits._
    val history = Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("id", "text")
    val batch = Seq((10L, "bb"), (14L, "aa"), // already in history → rejected
        (12L, "dd"), (11L, "dd"),            // in-batch copies → min id wins
        (13L, "ee"))                         // novel → kept
      .toDF("id", "text")
    val got = Dedup.incrementalNew(history, batch, "text", "id")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(11L, 13L))
    // an empty history keeps every in-batch winner (bb, aa, dd, ee)
    val cold = Dedup.incrementalNew(history.limit(0), batch, "text", "id")
    assert(cold.count() == 4)
  }

  test("unicode normalize: NFC composes accents, NFKC folds ligatures, idempotent") {
    import spark.implicits._
    import graft.expressions.TextKernels.unicodeNormalize
    val df = Seq(
      (1L, "café"),          // e + combining acute -> é
      (2L, "\ufb01nance"),   // fi ligature (NFKC folds to "fi")
      (3L, "plain ascii"),
      (4L, null: String))
      .toDF("id", "s")
    val out = df.select(F.col("id"),
        unicodeNormalize(F.col("s")).as("nfc"),
        unicodeNormalize(F.col("s"), "NFKC").as("nfkc"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "caf\u00e9" && out(0).getString(2) == "caf\u00e9")
    assert(out(1).getString(1) == "\ufb01nance") // NFC keeps the ligature
    assert(out(1).getString(2) == "finance")     // NFKC folds it
    assert(out(2).getString(1) == "plain ascii")
    assert(out(3).isNullAt(1) && out(3).isNullAt(2))
    // idempotence: normalizing the normalized form changes nothing
    val twice = df.where(F.col("s").isNotNull).select(
      (unicodeNormalize(unicodeNormalize(F.col("s"))) ===
        unicodeNormalize(F.col("s"))).as("eq")).collect()
    assert(twice.forall(_.getBoolean(0)))
  }

  test("incremental near-dup: index-probed pairs match brute-force jaccard") {
    import spark.implicits._
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about spark physical planning rules"),
      (3L, "a third unrelated document mentioning minhash banding recall"))
      .toDF("id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river edge"), // ~dup of 1
      (11L, "nothing like anything in the history corpus at all whatsoever"),
      (12L, "completely different content about spark physical planning rules")) // exact dup of 2
      .toDF("id", "text")
    val index = Dedup.minhashBandIndex(history, "text", "id")
    val got = Dedup.incrementalNearDupPairs(index, history, batch, "text", "id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: exact jaccard across the full cross product
    def sh(t: String): Set[String] =
      t.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val expect = (for {
      (b, bt) <- Seq((10L, "the quick brown fox jumps over the lazy dog near the river edge"),
        (11L, "nothing like anything in the history corpus at all whatsoever"),
        (12L, "completely different content about spark physical planning rules"))
      (h, ht) <- Seq((1L, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2L, "completely different content about spark physical planning rules"),
        (3L, "a third unrelated document mentioning minhash banding recall"))
      inter = sh(bt).intersect(sh(ht)).size
      j = inter.toDouble / (sh(bt).size + sh(ht).size - inter)
      if j >= 0.5
    } yield (b, h)).toSet
    assert(expect.nonEmpty)
    assert(got == expect) // high-similarity pairs: banding recall ≈ 1 here
  }

  test("semantic dedup: exact recall on separable clusters, sound pairs") {
    import spark.implicits._
    // two tight direction groups, ids interleaved so the deterministic
    // k-means init (the k lowest-id vectors) seeds one centroid per group
    def v(base: Int, eps: Double): Seq[Double] =
      Seq.tabulate(6)(d => (if (d == base) 1.0 else 0.0) + eps * (d + 1))
    val rows = (0 until 10).map { i =>
      (i.toLong, v(if (i % 2 == 0) 0 else 3, 0.001 * (i / 2)))
    }
    val df = rows.toDF("id", "vec")
    val thr = 0.999
    val got = SemDedup.pairs(df, "id", "vec", k = 2, iters = 2, threshold = thr)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force oracle over all pairs
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = (for {
      (i, vi) <- rows; (j, vj) <- rows if i < j && cos(vi, vj) >= thr
    } yield (i, j)).toSet
    assert(expect.nonEmpty)
    assert(got == expect) // clean geometry → within-cluster search is exact
    // cluster collapse keeps each group's min id
    val kept = SemDedup.dedup(df, "id", "vec", k = 2, iters = 2, threshold = thr)
      .where(F.col("keep")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L))
    // a caller-supplied corpus size (store version log, prior job) replaces
    // AutoK's count job and picks the identical geometry/pairs
    val viaKnown = SemDedup
      .pairs(df, "id", "vec", threshold = thr, knownN = df.count())
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCount = SemDedup.pairs(df, "id", "vec", threshold = thr)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaKnown == viaCount)
  }

  test("semantic dedup grouped: equals the global face post-filtered to " +
    "same-group pairs on ONE shared index; NULL groups excluded") {
    import spark.implicits._
    def v(base: Int, eps: Double): Seq[Double] =
      Seq.tabulate(6)(d => (if (d == base) 1.0 else 0.0) + eps * (d + 1))
    // two geometric clusters × two groups, interleaved: within a k-means
    // cell both groups coexist, so the (cluster, group) key has real
    // cross-group collisions to refuse
    val rows = (0 until 12).map { i =>
      (i.toLong, if (i % 4 < 2) Some("en") else Some("de"),
        v(if (i % 2 == 0) 0 else 3, 0.001 * (i / 2)))
    } :+ ((12L, Option.empty[String], v(0, 0.0)))
    val df = rows.toDF("id", "grp", "vec")
    val thr = 0.99
    val index = graft.pipeline.Ivf.build(df.where(F.col("grp").isNotNull),
      "id", "vec", k = 2, iters = 2)
    val groups = df.where(F.col("grp").isNotNull)
      .select(F.col("id"), F.col("grp").cast("string").as("td_grp"))
    val grouped = SemDedup.pairsWithIndexGrouped(index, groups, thr)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    // candidate sets: grouped = cluster ∩ group; global post-filtered to
    // same-group = cluster ∩ group too — exact equality, zero recall cost
    val gmap = rows.collect { case (i, Some(g), _) => i -> g }.toMap
    val global = SemDedup.pairsWithIndex(index, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => gmap(a) == gmap(b) }
      .map { case (a, b) => (gmap(a), a, b) }.toSet
    assert(grouped == global, s"$grouped vs $global")
    assert(grouped.nonEmpty && grouped.forall { case (g, a, b) =>
      gmap(a) == g && gmap(b) == g && a < b })
    // the NULL-group row never pairs
    assert(!grouped.exists { case (_, a, b) => a == 12L || b == 12L })
    // the one-shot face with the group column agrees
    val oneShot = SemDedup.pairsGrouped(df, "id", "vec", "grp", k = 2,
      iters = 2, threshold = thr)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(oneShot == grouped, s"$oneShot vs $grouped")
  }

  test("packing: exact prefix-sum assignment, partitioning-independent") {
    import spark.implicits._
    val rows = Seq((1L, 100L), (2L, 3000L), (3L, 2000L), (4L, 500L),
      (5L, 5000L), (6L, 10L)).toDF("id", "tok")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Packing.packByBudget(df, "id", "tok", 4096L)
        .select("id", "pack_id", "pack_pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val got = run(rows)
    // exclusive cums: 0,100,3100,5100,5600,10600 at budget 4096
    assert(got == Seq((1L, 0L, 0L), (2L, 0L, 100L), (3L, 0L, 3100L),
      (4L, 1L, 1004L), (5L, 1L, 1504L), (6L, 2L, 2408L)))
    // shuffled input partitioning must not change the assignment
    assert(run(rows.repartition(7)) == got)
  }

  test("chunking: overlapping windows, tail clamp, empty and null docs") {
    import spark.implicits._
    val df = Seq((1L, "abcdefghij"), (2L, ""), (3L, null: String), (4L, "xy"))
      .toDF("id", "text")
    val got = graft.pipeline.Packing.chunkDocuments(df, "id", "text",
        size = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // step 3: starts 1,4,7,10 -> abcd, defg, ghij, j (tail clamped)
    assert(got == Seq((1L, 0, "abcd"), (1L, 1, "defg"), (1L, 2, "ghij"),
      (1L, 3, "j"), (4L, 0, "xy")))
  }

  test("argument contracts: packing/chunking/split reject invalid configs") {
    import spark.implicits._
    val df = Seq((1L, 10L)).toDF("id", "tok")
    intercept[IllegalArgumentException](
      graft.pipeline.Packing.packByBudget(df, "id", "tok", 0L))
    val t = Seq((1L, "x")).toDF("id", "text")
    intercept[IllegalArgumentException](
      graft.pipeline.Packing.chunkDocuments(t, "id", "text", size = 4, overlap = 4))
    intercept[IllegalArgumentException](
      graft.pipeline.Packing.chunkDocuments(t, "id", "text", size = 0, overlap = 0))
    intercept[IllegalArgumentException](
      DataMix.split(t, "id", valFrac = 0.6, testFrac = 0.6))
    intercept[IllegalArgumentException](
      DataMix.sampleByWeights(t, "id", "text", Map("x" -> 1.5)))
  }

  test("split: stable per-id assignment, rates near targets") {
    val s = DataMix.split(docs, "doc_id", 0.1, 0.1)
    val counts = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts("train") > counts.getOrElse("val", 0L))
    // subsetting the corpus never moves an id to a different split
    val sub = DataMix.split(docs.limit(100), "doc_id", 0.1, 0.1)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = s.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    sub.foreach { case (id, sp) => assert(full(id) == sp) }
  }

  test("quality score: null on empty, [0,1] bounds, ranks clean over noise") {
    import spark.implicits._
    val texts = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and that " +
        "dog would have been quicker to move with better warning."),
      (2L, "### ### ### ... ... 123 456 #####"),
      (3L, ""))
      .toDF("doc_id", "text")
    val out = QualityFilters.withQualityScore(texts, "text", Seq("doc_id"))
      .orderBy("doc_id").collect()
    val clean = out(0).getDouble(1)
    val noise = out(1).getDouble(1)
    assert(clean > noise)
    assert(clean >= 0.0 && clean <= 1.0 && noise >= 0.0 && noise <= 1.0)
    assert(out(0).getBoolean(2))
    assert(out(2).isNullAt(1) && out(2).isNullAt(2)) // 0 words → null score
    // frame-level kernel path ≡ composable column path, bit-for-bit
    val viaCols = texts.select(F.col("doc_id"),
      QualityFilters.scoreFromSignals(
        QualityFilters.wordCount(F.col("text")),
        QualityFilters.meanWordLength(F.col("text")),
        QualityFilters.symbolWordRatio(F.col("text")),
        QualityFilters.alphaWordCount(F.col("text")).cast("double") /
          F.nullif(QualityFilters.wordCount(F.col("text")), F.lit(0)),
        QualityFilters.stopwordHits(F.col("text"))).as("s"))
      .orderBy("doc_id").collect()
    out.zip(viaCols).foreach { case (a, b) =>
      assert(a.isNullAt(1) == b.isNullAt(1))
      if (!a.isNullAt(1)) assert(a.getDouble(1) == b.getDouble(1))
    }
  }

  test("review fixes: null text through bloom, null group in temperature, empty LM corpus") {
    import spark.implicits._
    // a null batch text must not NPE the bloom probe, and the output must
    // still equal the exact path (the identity contract)
    val hist = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "gamma"), (12L, null: String))
      .toDF("doc_id", "text")
    val exact = Dedup.incrementalNew(hist, batch, "text", "doc_id")
      .collect().map(_.getLong(0)).sorted
    val bf = Dedup.buildBloomIndex(hist, "text")
    val got = Dedup.incrementalNewBloom(bf, hist, batch, "text", "doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == exact.toSeq && got.contains(12L))

    // null group rows are dropped from the temperature mixture, not a crash
    val mixed = Seq((1L, "en"), (2L, "en"), (3L, null: String))
      .toDF("doc_id", "lang")
    val kept = graft.pipeline.DataMix.sampleByTemperature(
      mixed, "doc_id", "lang", alpha = 0.5, keepFraction = 1.0)
    assert(!kept.collect().map(r => Option(r.getString(1))).contains(None))

    // an all-empty corpus scores every document null, no NPE on the T sum
    val empty = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val scored = QualityFilters.unigramLogProb(empty, "doc_id", "text").collect()
    assert(scored.length == 2 && scored.forall(_.isNullAt(1)))
  }

  test("exact-n sampling: size exact, partition-invariant, stratified per group") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, if (i % 5 == 0) "a" else "b"))
      .toDF("doc_id", "grp")
    val pick = graft.pipeline.DataMix.sampleExactN(df, "doc_id", 37)
      .collect().map(_.getLong(0)).sorted
    assert(pick.length == 37)
    // the same 37 rows under a different partitioning
    val repicked = graft.pipeline.DataMix.sampleExactN(df.repartition(7), "doc_id", 37)
      .collect().map(_.getLong(0)).sorted
    assert(repicked.toSeq == pick.toSeq)
    // stratified: exactly n per group (both groups have enough rows)
    val strat = graft.pipeline.DataMix
      .sampleExactNPerGroup(df, "doc_id", "grp", 25)
      .groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(strat == Map("a" -> 25L, "b" -> 25L))
    // a group smaller than n yields all its rows, not an error
    val tiny = graft.pipeline.DataMix.sampleExactNPerGroup(
      df.where(F.col("doc_id") < 3), "doc_id", "grp", 25)
    assert(tiny.count() == 3)
  }

  test("weighted sampling: proportional representation, partitioning-invariant, zero-weight excluded") {
    import spark.implicits._
    // two weight classes, 10:1 — heavy rows should dominate the sample
    val df = spark.range(2000).toDF("doc_id")
      .withColumn("wt", F.when(F.col("doc_id") % 2 === 0, 10.0).otherwise(1.0))
    val pick = graft.pipeline.DataMix.sampleWeightedN(df, "doc_id", "wt", 200)
      .collect().map(_.getLong(0)).sorted
    assert(pick.length == 200)
    val heavy = pick.count(_ % 2 == 0)
    assert(heavy > 150, s"10x-weighted rows under-represented: $heavy/200")
    // identical winners under a different partitioning
    val again = graft.pipeline.DataMix
      .sampleWeightedN(df.repartition(7), "doc_id", "wt", 200)
      .collect().map(_.getLong(0)).sorted
    assert(again.toSeq == pick.toSeq)
    // zero/null weights never win
    val z = df.withColumn("wt",
      F.when(F.col("doc_id") < 1000, F.lit(null)).otherwise(F.lit(0.0)))
    assert(graft.pipeline.DataMix.sampleWeightedN(z, "doc_id", "wt", 10).count() == 0)
  }

  test("bm25 append: disjointness check rejects re-indexed ids; unstamped index refuses append") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-app").toString
    Retrieval.saveBm25(Retrieval.buildBm25(docs, "text", "doc_id"), dir, termBuckets = 4)
    val clash = intercept[IllegalArgumentException] {
      Retrieval.appendBm25(spark, dir, docs.where(F.col("doc_id") === 2L),
        "text", "doc_id", checkDisjoint = true)
    }
    assert(clash.getMessage.contains("already in the index"))
    // empty delta is a no-op, not a corrupt stamp
    Retrieval.appendBm25(spark, dir, docs.where(F.lit(false)), "text", "doc_id")
    assert(Retrieval.loadBm25(spark, dir).nDocs == 2L)
  }

  test("common-line removal: corpus-wide boilerplate excised, order and shorts preserved") {
    import spark.implicits._
    import graft.pipeline.QualityFilters
    val df = Seq(
      (1L, "follow us on example\nreal content one\n\nmore one"),
      (2L, "follow us on example\nreal content two"),
      (3L, "follow us on example\nreal content three")).toDF("doc_id", "text")
    val out = QualityFilters.removeCommonLines(df, "doc_id", "text", maxDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // the 3-doc boilerplate line is gone everywhere; per-doc lines and the
    // empty line (short, keepShort default) survive in original order
    assert(out(1L) == ("real content one\n\nmore one", 4L, 3L))
    assert(out(2L) == ("real content two", 2L, 1L))
    assert(out(3L) == ("real content three", 2L, 1L))
    // raising the bar to 4 docs keeps everything
    val kept = QualityFilters.removeCommonLines(df, "doc_id", "text", maxDocs = 4)
      .agg(F.sum("n_lines_kept")).collect()(0).getLong(0)
    assert(kept == 8L)
  }

  test("epoch shuffle: deterministic per seed, fresh permutation per epoch, dense shard positions") {
    import spark.implicits._
    val df = spark.range(500).toDF("doc_id")
    val e0 = graft.pipeline.DataMix.epochShuffle(df, "doc_id", seed = 0L, numShards = 8)
    val rows = e0.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // a permutation: every row exactly once, shards within range
    assert(rows.length == 500 && rows.map(_._1).distinct.length == 500)
    assert(rows.forall { case (_, s, _) => s >= 0 && s < 8 })
    // positions are dense 0..n-1 within each shard
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (0 until g.length)) }
    // same seed is partitioning-invariant; a different seed reorders
    val again = graft.pipeline.DataMix
      .epochShuffle(df.repartition(7), "doc_id", seed = 0L, numShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(again.toSeq == rows.sorted.toSeq)
    val e1 = graft.pipeline.DataMix.epochShuffle(df, "doc_id", seed = 1L, numShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(e1.toSeq != rows.sorted.toSeq)
  }

  test("duplicate-span removal: one copy survives corpus-wide, canonical untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),                      // canonical source
      (2L, "x y a b c d e f g h i j z"),                    // embeds 1's window
      (3L, "p q r s t u v w u1 u2 p q r s t u v w u1 u2"),  // self-repeat
      (4L, "totally unrelated short text")                  // < n tokens
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "text", "doc_id", n = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // doc 1 holds the canonical (min id, min pos) occurrence — untouched
    assert(got(1L) == (("a b c d e f g h i j k l", 0L)))
    // doc 2's copy of the window is excised; its own tokens survive
    assert(got(2L) == (("x y z", 10L)))
    // within-doc repeat: the second occurrence goes, the first stays
    assert(got(3L) == (("p q r s t u v w u1 u2", 10L)))
    // sub-window doc passes through (normalized token stream)
    assert(got(4L) == (("totally unrelated short text", 0L)))
  }

  test("bigram LM: predictable text scores below shuffled text; short docs null; invariant") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat"),
      (4L, "mat the on sat cat the"),  // same unigrams, unseen bigram order
      (5L, "zzz")                      // one token: no bigrams -> null
    ).toDF("doc_id", "text")
    val got = graft.pipeline.QualityFilters
      .bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // the thrice-repeated phrase has high-count bigrams -> low NLL; the
    // shuffled doc's bigrams are mostly singletons -> strictly higher
    assert(got(1L).get < got(4L).get)
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(5L).isEmpty)
    val re = graft.pipeline.QualityFilters
      .bigramLogProb(docs.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(re == got) // bit-identical under repartitioning
  }

  test("quantile sketch: mergeable, persistable, deterministic, grid-width error bound") {
    import spark.implicits._
    import graft.pipeline.Report
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars")
    val (lo, hi, bins) = (0.0, 640.0, 64)
    // merge algebra: sketch(A) ⊕ sketch(B) == sketch(A ∪ B), bit-exact
    val whole = Report.quantileSketch(docs, "n_chars", lo, hi, bins)
      .select("counts", "n").head()
    val a = Report.quantileSketch(
      docs.where(F.col("doc_id") % 2 === 0).repartition(7), "n_chars", lo, hi, bins)
    val b = Report.quantileSketch(
      docs.where(F.col("doc_id") % 2 === 1).repartition(3), "n_chars", lo, hi, bins)
    val dir = java.nio.file.Files.createTempDirectory("graft-qsketch").toString
    // persists as plain parquet WITH the (lo, hi, bins) grid stamp riding
    // in the rows — a reloaded sketch is self-describing
    a.unionByName(b).write.mode("overwrite").parquet(dir)
    val merged = Report.mergeQuantileSketches(spark.read.parquet(dir)).head()
    assert(merged.getSeq[Long](0) == whole.getSeq[Long](0))
    assert(merged.getLong(1) == whole.getLong(1) && whole.getLong(1) == docs.count())
    assert(merged.getDouble(2) == lo && merged.getDouble(3) == hi &&
      merged.getInt(4) == bins) // merge preserves the stamp
    // sketch answers are within one grid width of the exact order statistic
    val exact = graft.operators.Quantiles.exactQuantiles(
        docs, "n_chars", Seq(0.5, 0.9, 0.99), tiebreakers = Seq("doc_id"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1).toDouble).toMap
    val est = Report.sketchQuantiles(
        Report.mergeQuantileSketches(spark.read.parquet(dir)),
        Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val width = (hi - lo) / bins
    est.foreach { case (q, v) =>
      assert(math.abs(v - exact(q)) <= width,
        s"q=$q sketch $v vs exact ${exact(q)} beyond one cell ($width)")
      assert(v <= exact(q), "lower-edge answer must not overshoot")
    }
    // tails COUNT out-of-grid and NULL values carry no bin
    val edge = Seq(Some(-5L), Some(5L), Some(9999L), None).toDF("x")
    val sk = Report.quantileSketch(edge, "x", lo, hi, bins).head()
    val counts = sk.getSeq[Long](0)
    assert(counts.head == 1L && counts.last == 1L && sk.getLong(1) == 3L,
      s"tails/nulls wrong: $counts n=${sk.getLong(1)}")
    // per-group variant: one array per group, each summing to the group size
    val grouped = Report.quantileSketch(
        spark.read.parquet(s"$sf/documents.parquet"), "n_chars", lo, hi, bins,
        groupCol = Some("lang"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val sizes = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped == sizes)
    // grids must agree to merge: different bin counts raise loudly
    val other = Report.quantileSketch(docs, "n_chars", lo, hi, 32)
    val ex = intercept[Exception] {
      Report.mergeQuantileSketches(a.unionByName(other)).collect()
    }
    assert(ex.getMessage.contains("different grids"), ex.getMessage)
    // ...and SAME-LENGTH arrays over a different range — the silent
    // corruption the length-only check missed — raise just as loudly
    val halfRange = Report.quantileSketch(docs, "n_chars", lo, hi / 2, bins)
    val ex2 = intercept[Exception] {
      Report.mergeQuantileSketches(a.unionByName(halfRange)).collect()
    }
    assert(ex2.getMessage.contains("different grids"), ex2.getMessage)
    // a stampless relation is rejected up front (plan time, not silently)
    val ex3 = intercept[IllegalArgumentException] {
      Report.mergeQuantileSketches(a.select("counts"))
    }
    assert(ex3.getMessage.contains("grid stamp"), ex3.getMessage)
    // merging zero sketches is loud, not an empty result
    val ex4 = intercept[Exception] {
      Report.mergeQuantileSketches(a.where(F.lit(false))).collect()
    }
    assert(ex4.getMessage.contains("empty set"), ex4.getMessage)
  }

  test("log quantile sketch: relative-error bound, un-loggable tail, scale-guarded merge") {
    import spark.implicits._
    import graft.pipeline.Report
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars")
    val (lo, hi, bins) = (1.0, 1024.0, 64)
    // merge algebra holds on the log grid: sketch(A) ⊕ sketch(B) == sketch(A ∪ B)
    val whole = Report.logQuantileSketch(docs, "n_chars", lo, hi, bins).head()
    val a = Report.logQuantileSketch(
      docs.where(F.col("doc_id") % 2 === 0).repartition(7), "n_chars", lo, hi, bins)
    val b = Report.logQuantileSketch(
      docs.where(F.col("doc_id") % 2 === 1).repartition(3), "n_chars", lo, hi, bins)
    val merged = Report.mergeQuantileSketches(a.unionByName(b)).head()
    assert(merged.getSeq[Long](0) == whole.getSeq[Long](0))
    assert(merged.getLong(1) == whole.getLong(1))
    assert(merged.getString(5) == "log") // merge preserves the scale stamp
    // RELATIVE error bound: lower-edge answer v has v <= exact <= v * step
    // where step = (hi/lo)^(1/bins) — constant ratio at every magnitude
    val exact = graft.operators.Quantiles.exactQuantiles(
        docs, "n_chars", Seq(0.5, 0.9, 0.99), tiebreakers = Seq("doc_id"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1).toDouble).toMap
    val est = Report.sketchQuantiles(
        Report.mergeQuantileSketches(a.unionByName(b)), Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val step = math.pow(hi / lo, 1.0 / bins)
    est.foreach { case (q, v) =>
      assert(v <= exact(q) + 1e-9, s"q=$q lower edge $v overshoots ${exact(q)}")
      assert(exact(q) <= v * step * (1 + 1e-12),
        s"q=$q sketch $v vs exact ${exact(q)} beyond one log cell (×$step)")
    }
    // un-loggable values (x <= 0) COUNT in the underflow tail; NULLs carry
    // no bin; the far tail catches magnitudes beyond hi
    val edge = Seq(Some(-5L), Some(0L), Some(5L), Some(999999L), None).toDF("x")
    val sk = Report.logQuantileSketch(edge, "x", lo, hi, bins).head()
    val counts = sk.getSeq[Long](0)
    assert(counts.head == 2L && counts.last == 1L && sk.getLong(1) == 4L,
      s"tails/nulls wrong: $counts n=${sk.getLong(1)}")
    // the scale stamp separates grids the numeric stamp cannot: a LINEAR
    // sketch over [0, ln hi) carries the same (lo, hi, bins) numbers as
    // the log sketch's ln-space stamp — merging them must raise loudly
    val linSameStamp = Report.quantileSketch(
      docs, "n_chars", 0.0, math.log(hi), bins)
    val ex = intercept[Exception] {
      Report.mergeQuantileSketches(a.unionByName(linSameStamp)).collect()
    }
    assert(ex.getMessage.contains("different grids"), ex.getMessage)
    // ...and the drift guard refuses the same cross-scale pair
    val ex2 = intercept[Exception] {
      Report.sketchDrift(a, linSameStamp).collect()
    }
    assert(ex2.getMessage.contains("different grids"), ex2.getMessage)
    // a non-positive lower bound cannot define a log grid
    val ex3 = intercept[IllegalArgumentException] {
      Report.logQuantileSketch(docs, "n_chars", 0.0, hi, bins)
    }
    assert(ex3.getMessage.contains("0 < lo"), ex3.getMessage)
  }

  test("z-order export: zone maps prune BOTH dimensions; linear sort only its own") {
    import spark.implicits._
    import graft.pipeline.Export
    // a 64×64 grid of two independent dimensions
    val df = (0 until 4096).map(i => (i.toLong, (i % 64).toLong, (i / 64).toLong))
      .toDF("id", "a", "b")
    def dir() = java.nio.file.Files.createTempDirectory("graft-zmap").toString
    val (dFlat, dLin, dZ) = (dir(), dir(), dir())
    Export.writeSharded(df.repartition(16), dFlat, "parquet",
      maxRecordsPerFile = 256)
    Export.writeSharded(df, dLin, "parquet",
      maxRecordsPerFile = 256, sortBy = Seq("a"))
    val z = graft.operators.ZOrder.clusterByZOrder(df, Seq("a", "b"),
      Seq((0.0, 64.0), (0.0, 64.0)), bits = 6, numPartitions = Some(16))
    Export.writeSharded(z, dZ, "parquet",
      maxRecordsPerFile = 256, sortBy = Seq("z_key"))
    // zone maps over BOTH dims for every layout, from the public manifest
    def hits(path: String, col: String): Long = {
      val m = Export.buildManifest(spark, path, "parquet",
        statsCols = Seq("a", "b"))
      m.where(F.col(s"min_$col") <= 7L && F.col(s"max_$col") >= 0L).count()
    }
    val (flatA, flatB) = (hits(dFlat, "a"), hits(dFlat, "b"))
    val (linA, linB) = (hits(dLin, "a"), hits(dLin, "b"))
    val (zA, zB) = (hits(dZ, "a"), hits(dZ, "b"))
    // unordered shards span everything — a range prunes nothing
    assert(flatA >= 12 && flatB >= 12, s"flat: $flatA/$flatB")
    // linear sort prunes its own dimension hard, the other not at all
    assert(linA <= 3, s"linear a-hits $linA")
    assert(linB >= 12, s"linear b-hits $linB")
    // the z-curve localizes BOTH: a 1/8-span range on either dimension
    // touches about a quarter of the shards (top interleaved bits)
    assert(zA <= 8 && zB <= 8, s"zorder hits: a=$zA b=$zB of 16")
  }

  test("logistic quality model: training replays bit-for-bit on the driver, learns separable data") {
    import spark.implicits._
    import graft.pipeline.QualityModel
    // separable-ish: y correlates with x1
    val rows = (0 until 200).map { i =>
      val x1 = (i % 50) / 10.0
      val x2 = ((i * 7) % 30) / 10.0
      val y = if (x1 + 0.1 * x2 > 2.5) 1.0 else 0.0
      (i.toLong, x1, x2, y)
    }
    val df = rows.toDF("id", "x1", "x2", "y")
    val got = QualityModel.trainLogistic(df, Seq("x1", "x2"), "y",
      iters = 3, lr = 1.0)
    // driver-side replay of the EXACT fixed-point arithmetic
    var w = Array(0.0, 0.0, 0.0)
    val S = QualityModel.GradScale
    for (_ <- 0 until 3) {
      val g = Array(0L, 0L, 0L)
      rows.foreach { case (_, x1, x2, y) =>
        val z = (w(0) + w(1) * x1) + w(2) * x2
        val p = 1.0 / (1.0 + math.exp(-z))
        val r = p - y
        g(0) += math.floor(r * 1.0 * S + 0.5).toLong
        g(1) += math.floor(r * x1 * S + 0.5).toLong
        g(2) += math.floor(r * x2 * S + 0.5).toLong
      }
      w = w.zip(g).map { case (wj, gj) =>
        wj - 1.0 * ((gj.toDouble / S) / rows.size) }
    }
    assert(got.toSeq == w.toSeq, s"${got.toSeq} vs ${w.toSeq}")
    // and the model actually separates: AUC of its scores over the label
    val scored = QualityModel.scoreLogistic(df, Seq("x1", "x2"), got)
    val auc = QualityModel.aucOf(scored, "score", "y")
      .collect().head.getAs[Double]("auc")
    assert(auc > 0.95, s"auc $auc")
    // partitioning invariance: fixed-point gradients commute
    val got2 = QualityModel.trainLogistic(df.repartition(13),
      Seq("x1", "x2"), "y", iters = 3, lr = 1.0)
    assert(got2.toSeq == got.toSeq)
  }

  test("exact AUC: midrank tie handling == brute-force pair counting") {
    import spark.implicits._
    import graft.pipeline.QualityModel
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      (i.toLong, rnd.nextInt(20).toDouble, rnd.nextInt(2)) }
    val df = rows.toDF("id", "s", "y")
    val got = QualityModel.aucOf(df, "s", "y").collect().head
    val pos = rows.filter(_._3 == 1).map(_._2)
    val neg = rows.filter(_._3 == 0).map(_._2)
    val pairs = for (p <- pos; n <- neg) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0
    val brute = pairs.sum / (pos.size.toDouble * neg.size.toDouble)
    assert(got.getLong(0) == pos.size && got.getLong(1) == neg.size)
    assert(math.abs(got.getDouble(2) - brute) < 1e-12,
      s"${got.getDouble(2)} vs $brute")
  }

  test("model eval suite: grouped AUC, calibration bins, P/R/F1 vs hand computation") {
    import spark.implicits._
    import graft.pipeline.QualityModel
    val rnd = new scala.util.Random(11)
    val rows = (0 until 240).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
        rnd.nextInt(12).toDouble, rnd.nextInt(2)) }
    val df = rows.toDF("id", "g", "s", "y")
    // grouped AUC == per-group brute-force pair counting with ties
    val got = QualityModel.aucByGroup(df, "g", "s", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    Seq("a", "b").foreach { g =>
      val in = rows.filter(_._2 == g)
      val pos = in.filter(_._4 == 1).map(_._3)
      val neg = in.filter(_._4 == 0).map(_._3)
      val brute = (for (p <- pos; n <- neg)
        yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum /
        (pos.size.toDouble * neg.size.toDouble)
      assert(got(g).getLong(1) == pos.size && got(g).getLong(2) == neg.size)
      assert(math.abs(got(g).getDouble(3) - brute) < 1e-12, s"group $g")
    }
    // single-class group answers NULL auc honestly
    val degen = Seq((1L, "x", 1.0, 1), (2L, "x", 2.0, 1)).toDF("id", "g", "s", "y")
    assert(QualityModel.aucByGroup(degen, "g", "s", "y")
      .collect().head.isNullAt(3))
    // calibration: hand-binned fractions and fixed-point means
    val cal = Seq((0.05, 0), (0.08, 1), (0.55, 1), (0.58, 1), (0.52, 0), (1.0, 1))
      .toDF("score", "y")
    val bins = QualityModel.calibration(cal, "score", "y", bins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(bins(1L) == ((2L, 1L, 0.5)))       // [0, 0.1)
    assert(bins(6L) == ((3L, 2L, 2.0 / 3.0))) // [0.5, 0.6)
    assert(bins(11L) == ((1L, 1L, 1.0)))      // overflow: score == 1.0
    val mean6 = bins.keys.toSeq
    assert(mean6.sorted == Seq(1L, 6L, 11L))
    // P/R/F1 at 0.5: predictions {0.55, 0.58, 0.52, 1.0} positive
    val pr = QualityModel.prAtThreshold(cal, "score", "y", 0.5)
      .collect().head
    assert((pr.getLong(0), pr.getLong(1), pr.getLong(2), pr.getLong(3))
      == ((3L, 1L, 1L, 1L)))
    assert(pr.getDouble(4) == 3.0 / 4.0 && pr.getDouble(5) == 3.0 / 4.0)
    assert(math.abs(pr.getDouble(6) - 0.75) < 1e-12)
    // empty-denominator honesty
    val allNeg = Seq((0.9, 0), (0.8, 0)).toDF("score", "y")
    val pn = QualityModel.prAtThreshold(allNeg, "score", "y", 0.95)
      .collect().head
    assert(pn.isNullAt(4) && pn.isNullAt(6)) // no predicted positives
    // the curve rows == prAtThreshold at each threshold
    val curve = QualityModel.prCurve(cal, "score", "y", Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.toSeq.tail).toMap
    Seq(0.5, 0.9).foreach { t =>
      val one = QualityModel.prAtThreshold(cal, "score", "y", t)
        .collect().head.toSeq
      assert(curve(t) == one, s"t=$t")
    }
    // brier == hand fold in the same fixed point
    val br = QualityModel.brierScore(cal, "score", "y").collect().head
    val handQ = Seq((0.05, 0), (0.08, 1), (0.55, 1), (0.58, 1), (0.52, 0),
        (1.0, 1))
      .map { case (s, y) =>
        math.floor((s - y) * (s - y) * 1048576.0 + 0.5).toLong }.sum
    assert(br.getLong(0) == 6L &&
      br.getDouble(1) == (handQ.toDouble / 1048576.0) / 6.0)
    // gains table == driver-side sorted replay (desc score, id tiebreak)
    val gains = QualityModel.gainsTable(df, "s", "y", buckets = 4,
        tiebreakers = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val sorted = rows.sortBy(r => (-r._3, r._1))
    val handBuckets = sorted.zipWithIndex
      .groupBy { case (_, i) => (i.toLong * 4L) / rows.size }
      .toSeq.sortBy(_._1)
      .map { case (b, rs) => (b, rs.size.toLong,
        rs.count(_._1._4 == 1).toLong) }
    var (cn, cp) = (0L, 0L)
    val handCum = handBuckets.map { case (b, bn, bp) =>
      cn += bn; cp += bp; (b, bn, bp, cn, cp) }
    assert(gains.toSeq == handCum, s"${gains.toSeq} vs $handCum")
    // monotone gain, lift starts above 1 when the score is informative
    // persistence: save/load round-trip scores identically
    val mdir = java.nio.file.Files.createTempDirectory("graft-lrm").toString
    val w2 = QualityModel.trainLogistic(df, Seq("s"), "y", iters = 2)
    QualityModel.saveLogistic(spark, mdir, Seq("s"), w2.toSeq)
    val (fcols, wl) = QualityModel.loadLogistic(spark, mdir)
    assert(fcols == Seq("s") && wl == w2.toSeq)
    val a1 = QualityModel.scoreLogistic(df, Seq("s"), w2.toSeq)
      .select("id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a2 = QualityModel.scoreLogistic(df, fcols, wl)
      .select("id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a1 == a2)
  }

  test("column profiler: one-pass card matches hand-computed facts, typed extrema") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("b"), Some(2.5)),
      (Some(2L), Some("a"), Some(-1.0)),
      (Some(2L), None, Some(0.5)),
      (None, Some("c"), None)
    ).toDF("id", "s", "x")
    val got = graft.pipeline.Report.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("id", "s", "x"))
    val id = got("id")
    assert(id.getString(1) == "bigint" && id.getLong(2) == 4L &&
      id.getLong(3) == 1L && id.getLong(4) == 2L)
    assert(id.getDouble(5) == 1.0 && id.getDouble(6) == 2.0)
    assert(id.getDouble(9) == 5.0 && id.getDouble(10) == 5.0 / 3.0)
    val s = got("s")
    assert(s.getString(1) == "string" && s.getLong(3) == 1L &&
      s.getLong(4) == 3L)
    assert(s.getString(7) == "a" && s.getString(8) == "c")
    assert(s.isNullAt(5) && s.isNullAt(6) && s.isNullAt(9) && s.isNullAt(10))
    val x = got("x")
    assert(x.getDouble(5) == -1.0 && x.getDouble(6) == 2.5 &&
      x.getDouble(9) == 2.0 && x.getDouble(10) == 2.0 / 3.0)
    // column subset + all-null mean guard
    val sub = graft.pipeline.Report.profile(
      Seq((Option.empty[Long], "k")).toDF("v", "k"), Seq("v")).collect().head
    assert(sub.getLong(3) == 1L && sub.isNullAt(10))
  }

  test("profile stamps roll up bit-equal to profiling the union") {
    import spark.implicits._
    import graft.pipeline.Report
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source", "n_chars")
    val shards = (0 until 3).map(m => docs.where(F.col("doc_id") % 3 === m))
    val merged = Report.mergeProfiles(
      shards.map(Report.profileStamp(_)).reduce(_ unionByName _))
    // profile of the union minus n_distinct (exact distincts do not
    // merge — deliberately absent from the stamp)
    val expected = Report.profile(docs).drop("n_distinct")
      .orderBy("column")
    assert(merged.collect().toSeq == expected.collect().toSeq,
      "rollup diverged from profiling the union")
    // dtype drift between stamps must raise, not silently fold
    val recast = Report.profileStamp(
      docs.withColumn("n_chars", F.col("n_chars").cast("int")))
    val ex = intercept[Exception] {
      Report.mergeProfiles(
        Report.profileStamp(docs).unionByName(recast)).collect()
    }
    assert(ex.getMessage.contains("dtypes"), ex.getMessage)
  }

  test("profile drift flags schema changes, added columns, range widening") {
    import spark.implicits._
    import graft.pipeline.Report
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "x")
    val cur = Seq((0L, "a", 35.0, true), (5L, "c", 5.0, false))
      .toDF("id", "s", "x", "flag")
    val d = Report.profileDrift(
        Report.profileStamp(cur), Report.profileStamp(base))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(d.keySet == Set("flag", "id", "s", "x"))
    // added column: schema drift, base side all-NULL
    assert(d("flag").getBoolean(1) && d("flag").isNullAt(3))
    // numeric range widened both ends (0 < 1, 5 > 2); exact mean delta
    assert(!d("id").getBoolean(1) && d("id").getBoolean(9))
    assert(d("id").getDouble(8) == 2.5 - 1.5)
    // string extrema widened lexicographically ("c" > "b")
    assert(d("s").getBoolean(9))
    assert(d("x").getBoolean(9) && d("x").getDouble(8) == 20.0 - 15.0)
    // a dtype change alone flags schema_changed
    val d2 = Report.profileDrift(
        Report.profileStamp(base.withColumn("x", F.col("x").cast("float"))),
        Report.profileStamp(base))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(d2("x").getBoolean(1) && !d2("id").getBoolean(1))
  }

  test("sketch drift: zero on self, hand-checked PSI/KS/TVD, shift-sensitive, grid-guarded") {
    import spark.implicits._
    import graft.pipeline.Report
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val (lo, hi, bins) = (0.0, 640.0, 64)
    val a = Report.quantileSketch(docs, "n_chars", lo, hi, bins)
    // identical distributions drift by exactly zero on every statistic
    val self = Report.sketchDrift(a, a).head()
    assert(self.getDouble(0) == 0.0 && self.getDouble(1) == 0.0 &&
      self.getDouble(2) == 0.0, s"self-drift not zero: $self")
    // hand-checked small case: grid [0,2)x2 -> 4 cells, counts
    // a=[0,3,1,0] b=[0,1,3,0], n=4 each, smoothing denom 4+0.5*4=6:
    // psi = 2 * (2/6) * ln(3.5/1.5); ks = |3/4 - 1/4| = 0.5; tvd = 0.5
    val da = Seq(0.5, 0.5, 0.5, 1.5).toDF("x")
    val db = Seq(0.5, 1.5, 1.5, 1.5).toDF("x")
    val drift = Report.sketchDrift(
      Report.quantileSketch(da, "x", 0.0, 2.0, 2),
      Report.quantileSketch(db, "x", 0.0, 2.0, 2)).head()
    val psiExp = 2.0 * (2.0 / 6.0) * math.log(3.5 / 1.5)
    assert(math.abs(drift.getDouble(0) - psiExp) < 1e-12, s"psi ${drift.getDouble(0)}")
    assert(drift.getDouble(1) == 0.5 && drift.getDouble(2) == 0.5, drift.toString)
    assert(drift.getLong(3) == 4L && drift.getLong(4) == 4L)
    // a real shift moves every statistic well past the folklore thresholds
    val shifted = Report.quantileSketch(
      docs.withColumn("n_chars", F.col("n_chars") + 200), "n_chars", lo, hi, bins)
    val moved = Report.sketchDrift(a, shifted).head()
    assert(moved.getDouble(0) > 0.25 && moved.getDouble(1) > 0.1 &&
      moved.getDouble(2) > 0.1, s"shift not detected: $moved")
    // per-group vs global parity: one group's drift row equals the global
    // drift of that group's rows
    def byLang(m: Int) = Report.quantileSketch(
      docs.where(F.col("doc_id") % 2 === m), "n_chars", lo, hi, bins,
      groupCol = Some("lang"))
    val grouped = Report.sketchDriftByGroup(byLang(0), byLang(1), "lang")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val en = docs.where(F.col("lang") === "en")
    val enGlobal = Report.sketchDrift(
      Report.quantileSketch(en.where(F.col("doc_id") % 2 === 0), "n_chars", lo, hi, bins),
      Report.quantileSketch(en.where(F.col("doc_id") % 2 === 1), "n_chars", lo, hi, bins))
      .head()
    assert(grouped("en") == ((enGlobal.getDouble(0), enGlobal.getDouble(1),
      enGlobal.getDouble(2))), s"grouped vs global: ${grouped("en")} vs $enGlobal")
    // incomparable grids cannot yield a silent number
    val otherGrid = Report.quantileSketch(docs, "n_chars", lo, hi / 2, bins)
    val ex = intercept[Exception] {
      Report.sketchDrift(a, otherGrid).collect()
    }
    assert(ex.getMessage.contains("different grids"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      Report.sketchDrift(a, otherGrid.select("counts", "n"))
    }
    assert(ex2.getMessage.contains("grid stamp"), ex2.getMessage)
  }

  test("binsToSketch + drift-vs-baseline: round-trip and slice/global parity") {
    import graft.pipeline.Report
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val (lo, hi, bins) = (0.0, 640.0, 64)
    // round-trip: explode a grouped sketch into sparse (bin, n) rows and
    // pivot back — bit-identical counts and stamp
    val sk = Report.quantileSketch(docs, "n_chars", lo, hi, bins,
      groupCol = Some("lang"))
    val sparse = sk.select(F.col("lang"),
        F.posexplode(F.col("counts")).as(Seq("bin", "n")))
      .where(F.col("n") > 0)
    val back = Report.binsToSketch(sparse, lo, hi, bins,
      groupCols = Seq("lang"))
    val origM = sk.collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val backM = back.collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(backM == origM)
    // vs-baseline drift: each slice's row equals the global drift of
    // (slice sketch, baseline sketch)
    val baseline = Report.quantileSketch(docs, "n_chars", lo, hi, bins)
    val vs = Report.sketchDriftVsBaseline(sk, baseline, "lang")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val en = Report.sketchDrift(
      Report.quantileSketch(docs.where(F.col("lang") === "en"), "n_chars",
        lo, hi, bins), baseline).head()
    assert(vs("en") == ((en.getDouble(0), en.getDouble(1), en.getDouble(2))))
    // a bin the grid cannot produce raises instead of silently shifting
    import spark.implicits._
    val bad = Seq(("x", 99, 5L)).toDF("g", "bin", "n")
    val ex = intercept[Exception] {
      Report.binsToSketch(bad, lo, hi, bins, groupCols = Seq("g")).collect()
    }
    assert(ex.getMessage.contains("out of range"), ex.getMessage)
  }

  test("moment sketch: exact merge, stats decode vs driver truth, stamp guard") {
    import graft.pipeline.Report
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "event_type", "value")
    // merge == whole bit-exactly, global and per group
    def sk(df: org.apache.spark.sql.DataFrame) =
      Report.momentSketch(df, "value", groupCol = Some("event_type"))
    val whole = sk(ev).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    val merged = Report.mergeMomentSketchesByGroup(
        sk(ev.where(F.col("event_id") % 2 === 0).repartition(5))
          .unionByName(sk(ev.where(F.col("event_id") % 2 === 1))),
        "event_type")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(merged == whole)
    // stats decode equals a driver-side recomputation from the codes
    val rows = ev.where(F.col("value").isNotNull)
      .select(F.col("value").cast("double")).collect().map(_.getDouble(0))
    val scale = (1L << 20).toDouble
    val codes = rows.map(v => math.floor(v * scale + 0.5).toLong)
    val codes2 = rows.map(v => math.floor(v * v * scale + 0.5).toLong)
    val n = rows.length.toDouble
    val mean = (codes.map(BigInt(_)).sum.toDouble / n) / scale
    val ex2 = (codes2.map(BigInt(_)).sum.toDouble / n) / scale
    val stats = Report.momentStats(Report.momentSketch(ev, "value")).head()
    assert(stats.getLong(0) == rows.length.toLong)
    assert(stats.getDouble(1) == mean, s"mean ${stats.getDouble(1)} vs $mean")
    assert(stats.getDouble(2) ==
      math.sqrt(math.max(0.0, ex2 - mean * mean)), "std")
    assert(stats.getDouble(3) == codes.min.toDouble / scale &&
      stats.getDouble(4) == codes.max.toDouble / scale, "min/max")
    // mixed scale_bits refuse to merge
    val ex1 = intercept[Exception] {
      Report.mergeMomentSketches(
        Report.momentSketch(ev, "value")
          .unionByName(Report.momentSketch(ev, "value", scaleBits = 16)))
        .collect()
    }
    assert(ex1.getMessage.contains("different stamps"), ex1.getMessage)
    val ex2g = intercept[IllegalArgumentException] {
      Report.momentStats(Report.momentSketch(ev, "value").select("n", "sx"))
    }
    assert(ex2g.getMessage.contains("momentSketch"), ex2g.getMessage)
  }

  test("embedding sketch: exact merge algebra, drift stats, stamp guards") {
    import graft.pipeline.Report
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // merge(a, b) == sketch(a ∪ b) BIT-EXACTLY — integer sums, not floats
    val whole = Report.embeddingSketch(emb, "embedding", 64).head()
    val a = Report.embeddingSketch(
      emb.where(F.col("vec_id") % 2 === 0).repartition(7), "embedding", 64)
    val b = Report.embeddingSketch(
      emb.where(F.col("vec_id") % 2 === 1).repartition(3), "embedding", 64)
    val dir = java.nio.file.Files.createTempDirectory("graft-esketch").toString
    a.unionByName(b).write.mode("overwrite").parquet(dir)
    val merged = Report.mergeEmbeddingSketches(spark.read.parquet(dir)).head()
    assert(merged.getSeq[Long](0) == whole.getSeq[Long](0))
    assert(merged.getLong(1) == whole.getLong(1) &&
      whole.getLong(1) == emb.count())
    assert(merged.getInt(2) == 64 && merged.getInt(3) == 20)
    // per-group merge == per-group whole, every label
    val byLabel = Report.mergeEmbeddingSketchesByGroup(
        Report.embeddingSketch(emb.where(F.col("vec_id") % 2 === 0),
          "embedding", 64, groupCol = Some("label"))
          .unionByName(Report.embeddingSketch(
            emb.where(F.col("vec_id") % 2 === 1), "embedding", 64,
            groupCol = Some("label"))), "label")
      .collect().map(r => r.getInt(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val wholeByLabel = Report.embeddingSketch(emb, "embedding", 64,
        groupCol = Some("label"))
      .collect().map(r => r.getInt(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(byLabel == wholeByLabel)
    // self-drift: cos == 1 (identical mean vectors), zero shift
    val self = Report.embeddingDrift(a, a).head()
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-12 &&
      self.getDouble(1) == 0.0 && self.getDouble(2) == 0.0, self.toString)
    // an injected +0.25 shift on dimension 3 is detected and located
    val shifted = Report.embeddingSketch(
      emb.withColumn("embedding", F.transform(F.col("embedding"),
        (x, i) => F.when(i === 2, x + F.lit(0.25f)).otherwise(x))),
      "embedding", 64)
    val wholeDf = Report.embeddingSketch(emb, "embedding", 64)
    val moved = Report.embeddingDrift(wholeDf, shifted).head()
    assert(moved.getDouble(1) > 0.2 && moved.getDouble(1) < 0.3,
      s"l2 ${moved.getDouble(1)}") // one dim moved ~0.25
    assert(math.abs(moved.getDouble(2) - 0.25) < 1e-3,
      s"max_dim_shift ${moved.getDouble(2)}")
    // incompatible stamps refuse to merge or diff
    val otherStamp = Report.embeddingSketch(emb, "embedding", 64, scaleBits = 16)
    val ex = intercept[Exception] {
      Report.mergeEmbeddingSketches(a.unionByName(otherStamp)).collect()
    }
    assert(ex.getMessage.contains("different stamps"), ex.getMessage)
    val ex2 = intercept[Exception] {
      Report.embeddingDrift(a, otherStamp).collect()
    }
    assert(ex2.getMessage.contains("different stamps"), ex2.getMessage)
    val ex3 = intercept[IllegalArgumentException] {
      Report.embeddingDrift(a, otherStamp.select("sums", "n"))
    }
    assert(ex3.getMessage.contains("embeddingSketch"), ex3.getMessage)
  }

  test("per-group sketch merge: mergeByGroup(a,b) == sketch(a ∪ b) per slice") {
    import graft.pipeline.Report
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val (lo, hi, bins) = (0.0, 640.0, 64)
    def half(m: Int) = Report.quantileSketch(
      docs.where(F.col("doc_id") % 2 === m), "n_chars", lo, hi, bins,
      groupCol = Some("lang"))
    val merged = Report.mergeQuantileSketchesByGroup(
        half(0).unionByName(half(1)), "lang")
      .collect().map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val whole = Report.quantileSketch(docs, "n_chars", lo, hi, bins,
        groupCol = Some("lang"))
      .collect().map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(merged == whole)
    // grouped quantile answers match the ungrouped walk applied per slice
    val grouped = Report.sketchQuantilesByGroup(
        Report.mergeQuantileSketchesByGroup(half(0).unionByName(half(1)), "lang"),
        "lang", Seq(0.5, 0.95))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    whole.keys.foreach { lang =>
      val one = Report.sketchQuantiles(
          Report.quantileSketch(docs.where(F.col("lang") === lang), "n_chars",
            lo, hi, bins), Seq(0.5, 0.95))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      one.foreach { case (q, v) => assert(grouped((lang, q)) == v, s"$lang q=$q") }
    }
    // the guard is PER GROUP: one slice on a different grid fails loudly,
    // naming the group
    val conflicting = half(0).unionByName(
      Report.quantileSketch(docs.where(F.col("doc_id") % 2 === 1), "n_chars",
        lo, hi / 2, bins, groupCol = Some("lang")))
    val ex = intercept[Exception] {
      Report.mergeQuantileSketchesByGroup(conflicting, "lang").collect()
    }
    assert(ex.getMessage.contains("different grids in group"), ex.getMessage)
  }

  test("histogram: NULL values carry no bin (not silently counted in the top bin)") {
    import spark.implicits._
    import graft.pipeline.Report
    val df = (Seq.tabulate(10)(i => Some(i.toDouble)) ++
      Seq(None, None)).toDF("x")
    val got = Report.histogram(df, "x", bins = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // 0..9 over [0,9] in 3 bins: [0,3)→0,1,2; [3,6)→3,4,5; [6,9]→6,7,8,9.
    // The two NULLs must appear NOWHERE — before the fix they landed in bin 2.
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 4L), got.toString)
    assert(got.values.sum == 10L)
    // grouped variant: same rule per group
    val gdf = (Seq.tabulate(6)(i => ("a", Some(i.toDouble))) :+
      (("a", None)) :+ (("b", Some(1.0)))).toDF("g", "x")
    val gg = Report.histogramByGroup(gdf, "g", "x", bins = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(gg == Map(("a", 0L) -> 3L, ("a", 1L) -> 3L, ("b", 0L) -> 1L), gg.toString)
  }

  test("sharded export: row-bounded shards, exact manifest, lossless round-trip") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString + "/corpus"
    val df = (0L until 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text").coalesce(1)
    val manifest = graft.pipeline.Export.writeSharded(
        df, out, format = "jsonl", maxRecordsPerFile = 4L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 10 rows at <=4/file from one task -> 3 shards; counts exact; bytes real
    assert(manifest.length == 3)
    assert(manifest.map(_._2).sorted.toSeq == Seq(2L, 4L, 4L))
    assert(manifest.forall(_._3 > 0))
    // the manifest landed beside the data and matches a fresh rebuild
    val stored = spark.read.json(s"$out/_manifest.jsonl")
      .select("shard", "rows", "bytes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(stored.toSeq == manifest.sorted.toSeq)
    // round-trip is lossless
    val back = spark.read.json(out).select("doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(back == (0L until 10L).map(i => (i, s"doc $i")).toSet)
  }

  test("sorted export: disjoint shard key ranges, zone-map manifest prunes to one shard") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-export-z").toString + "/corpus"
    val df = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .repartition(7) // scrambled input: the sort must impose the layout
    val manifest = graft.pipeline.Export.writeSharded(
        df, out, format = "parquet", maxRecordsPerFile = 40L,
        sortBy = Seq("doc_id"))
      .select("shard", "rows", "min_doc_id", "max_doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(manifest.map(_._2).sum == 200L)
    // within each shard min <= max; across shards the key ranges are DISJOINT
    manifest.foreach { case (s, _, mn, mx) => assert(mn <= mx, s) }
    val ranges = manifest.map(m => (m._3, m._4)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 < b._1, s"overlap: $a $b")
      case _ =>
    }
    // zone-map pruning: a point probe selects exactly one shard
    val probe = 137L
    val hit = manifest.filter(m => m._3 <= probe && probe <= m._4)
    assert(hit.length == 1, hit.mkString(","))
    // and the shard actually holds the row
    val back = spark.read.parquet(s"$out/${hit.head._1}")
      .where(F.col("doc_id") === probe).count()
    assert(back == 1L)
    // stats also land in the stored manifest
    val stored = spark.read.json(s"$out/_manifest.jsonl")
    assert(stored.columns.contains("min_doc_id") &&
      stored.columns.contains("max_doc_id"))
    // manifest-pruned read: correct rows, and ONLY the matching shards
    // appear as input files of the pruned scan
    val pruned = graft.pipeline.Export.readPruned(spark, out, "parquet",
      "doc_id", 120L, 150L)
    assert(pruned.where(F.col("doc_id").between(120, 150)).count() == 31L)
    val inputs = pruned.select(F.input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val expected = manifest.filter(m => m._3 <= 150L && m._4 >= 120L).map(_._1).toSet
    assert(inputs.map(_.split('/').last) == expected.map(_.split('/').last),
      s"$inputs vs $expected")
    assert(inputs.size < manifest.length) // strictly fewer files than the export
    // empty intersection: empty frame, schema intact
    val none = graft.pipeline.Export.readPruned(spark, out, "parquet",
      "doc_id", 1000L, 2000L)
    assert(none.count() == 0L && none.columns.toSeq == pruned.columns.toSeq)
    // loud when the manifest has no stats for the key
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.Export.readPruned(spark, out, "parquet", "text", 0L, 1L)
    }
    assert(ex.getMessage.contains("zone-map"), ex.getMessage)
  }

  test("pruned jsonl read: schema from the stamp, no inference over unselected shards") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-export-s").toString
    val out = root + "/corpus"
    val df = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .repartition(7)
    val manifest = graft.pipeline.Export.writeSharded(
        df, out, format = "jsonl", maxRecordsPerFile = 40L,
        sortBy = Seq("doc_id"))
      .select("shard", "min_doc_id", "max_doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // tamper an UNSELECTED shard with a line carrying an extra field: any
    // schema-inference pass over the whole export would pick `extra` up,
    // so its absence from the pruned schema PROVES no inference ran there
    val victim = manifest.filter(_._3 < 120L).head._1
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/$victim"),
      """{"doc_id":999,"text":"x","extra":1}""".getBytes("UTF-8"))
    // the raw overwrite invalidates Hadoop's CRC sidecar and Spark's
    // cached file listing — drop both
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$out/.$victim.crc"))
    spark.catalog.refreshByPath(out)
    val pruned = graft.pipeline.Export.readPruned(spark, out, "jsonl",
      "doc_id", 120L, 150L)
    assert(pruned.schema.fieldNames.toSeq == Seq("doc_id", "text"),
      s"inference leaked: ${pruned.schema.fieldNames.mkString(",")}")
    assert(pruned.where(F.col("doc_id").between(120, 150)).count() == 31L)
    // input-file set == exactly the manifest-selected shards
    val inputs = pruned.select(F.input_file_name()).distinct()
      .collect().map(_.getString(0).split('/').last).toSet
    val expected = manifest.filter(m => m._2 <= 150L && m._3 >= 120L)
      .map(_._1.split('/').last).toSet
    assert(inputs == expected, s"$inputs vs $expected")
    // empty selection still answers the stamped schema without inference
    val none = graft.pipeline.Export.readPruned(spark, out, "jsonl",
      "doc_id", 5000L, 6000L)
    assert(none.count() == 0L &&
      none.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    // legacy export (no stamp): falls back to inference, which by
    // construction now sees the tampered shard's extra field
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(out, "_schema.json"), false)
    val legacy = graft.pipeline.Export.readPruned(spark, out, "jsonl",
      "doc_id", 120L, 150L)
    assert(legacy.schema.fieldNames.contains("extra"),
      "fallback should have inferred over the whole export")
  }

  test("partitioned export: partition columns survive a pruned read (basePath)") {
    import spark.implicits._
    def check(format: String): Unit = {
      val out = java.nio.file.Files
        .createTempDirectory(s"graft-export-p$format").toString + "/corpus"
      val df = (0L until 100L)
        .map(i => (i, if (i % 2 == 0) "en" else "de", s"doc $i"))
        .toDF("doc_id", "lang", "text")
      graft.pipeline.Export.writeSharded(df, out, format = format,
        maxRecordsPerFile = 20L, partitionBy = Seq("lang"),
        sortBy = Seq("doc_id"))
      val pruned = graft.pipeline.Export.readPruned(spark, out, format,
        "doc_id", 40L, 59L)
      // the regression: without basePath the partition column vanished
      // (parquet) or came back all-NULL (jsonl)
      assert(pruned.columns.contains("lang"), s"$format lost the partition column")
      val got = pruned.where(F.col("doc_id").between(40, 59))
        .select("doc_id", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val want = (40L until 60L).map(i => (i, if (i % 2 == 0) "en" else "de")).toSet
      assert(got == want, s"$format: ${got.toSeq.sortBy(_._1).take(5)}...")
    }
    check("parquet")
    check("jsonl")
  }

  test("semantic decontamination: planted paraphrase flagged, orthogonal doc clean, self excluded") {
    import spark.implicits._
    val corpus = Seq(
      (10L, Seq(1.0, 0.0, 0.0)),  // exact duplicate of eval 1 (a "paraphrase")
      (11L, Seq(0.8, 0.6, 0.0)),  // cos 0.8 to eval 1 — near but sub-threshold
      (12L, Seq(0.0, 0.0, 1.0)),  // orthogonal to both evals
      (1L, Seq(1.0, 0.0, 0.0))    // IS eval 1 — must not match itself
    ).toDF("vec_id", "embedding")
    val evals = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = graft.pipeline.Decontaminate.semanticOverlapFlags(
        corpus, "vec_id", "embedding", evals, "vec_id", "embedding",
        threshold = 0.95, excludeSelf = true)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got(10L) == ((1L, 1.0, true)))
    assert(got(11L)._1 == 1L && !got(11L)._3 && got(11L)._2 == 0.8)
    assert(got(12L)._2 == 0.0 && !got(12L)._3)
    // id 1 equals eval 1: the self pair is excluded, so its best match is
    // eval 2 at cosine 0 — not a self-flag at 1.0
    assert(got(1L) == ((2L, 0.0, false)))
  }

  test("dsir: target-like docs outweigh off-domain docs; invariant under partitioning") {
    import spark.implicits._
    val raw = Seq(
      (1L, "quantum physics lecture notes on entanglement"),
      (2L, "quantum entanglement experiments and physics theory"),
      (3L, "cheap pills buy now best price pills"),
      (4L, "buy cheap watches now lowest price guaranteed"),
      (5L, "physics of sailing and fluid dynamics"),
      (6L, "x")).toDF("doc_id", "text") // single token -> no bigram features
    val target = raw.where($"doc_id".isin(1L, 2L)) // the in-domain slice
    val w = graft.pipeline.Dsir.importanceWeights(raw, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // feature counts are tokens-1
    assert(w(1L)._1 == 5 && w(3L)._1 == 6)
    assert(!w.contains(6L)) // featureless doc has no weight row
    // both in-domain docs outweigh both spam docs; the physics-adjacent
    // doc 5 sits between
    assert(w(1L)._2 > w(5L)._2 && w(2L)._2 > w(5L)._2)
    assert(w(5L)._2 > w(3L)._2 && w(5L)._2 > w(4L)._2)
    // bit-identical under a different partitioning (sorted fold)
    val re = graft.pipeline.Dsir.importanceWeights(
        raw.repartition(7), target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    w.foreach { case (id, (_, wt)) => assert(re(id) == wt) }
    // selection keeps the top-weighted rows with their original columns
    val top = graft.pipeline.Dsir.selectTopN(raw, target, "text", "doc_id", 2)
      .select("doc_id").as[Long].collect().toSet
    assert(top == Set(1L, 2L))
  }

  test("libm ln kernel: equals Math.log pointwise, null propagates") {
    import spark.implicits._
    val xs = Seq(Some(1.2700126742712294), Some(0.001), Some(1.0), Some(math.E),
      Some(123456.789), None)
    val got = xs.toDF("x")
      .select(graft.expressions.MathKernels.ln(F.col("x")).as("y"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    xs.zip(got).foreach {
      case (Some(x), Some(y)) => assert(y == java.lang.Math.log(x), s"x=$x")
      case (None, y) => assert(y.isEmpty)
      case other => fail(other.toString)
    }
  }

  test("bm25: hand-computed scores, ranking, and partition invariance") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian durian")).toDF("doc_id", "text")
    val idx = Retrieval.buildBm25(docs, "text", "doc_id")
    assert(idx.nDocs == 3 && idx.avgDl == 3.0) // (3+2+4)/3
    val scored = Retrieval.scoreQuery(idx, Seq("apple", "banana"),
        k1 = 1.5, b = 0.75)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // hand computation: idf(apple)=ln(1+2.5/1.5), idf(banana)=ln(1+1.5/2.5);
    // d1 has dl=3=avgdl so the length norm is 1: tfc = tf*2.5/(tf+1.5)
    val idfA = math.log(1.0 + 2.5 / 1.5); val idfB = math.log(1.0 + 1.5 / 2.5)
    val d1 = Seq(idfA * (5.0 / 3.5), idfB * (2.5 / 2.5)).sorted.sum
    assert(scored(1L)._1 == 2 && math.abs(scored(1L)._2 - d1) < 1e-12)
    assert(scored(2L)._1 == 1) // banana only
    assert(!scored.contains(3L)) // no query term
    assert(scored(1L)._2 > scored(2L)._2)
    // top-k order and partition invariance of the folded score
    val top = Retrieval.topK(idx, Seq("apple", "banana"), 2, k1 = 1.5, b = 0.75)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
    val re = Retrieval.buildBm25(docs.repartition(7), "text", "doc_id")
    val rescored = Retrieval.scoreQuery(re, Seq("apple", "banana"),
        k1 = 1.5, b = 0.75)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rescored(1L) == scored(1L)._2 && rescored(2L) == scored(2L)._2)
  }

  test("bm25: a repeated doc id fails the build, naming the id column") {
    import spark.implicits._
    val docs = Seq((1L, "apple banana"), (2L, "banana cherry"),
      (1L, "cherry durian")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Retrieval.buildBm25(docs, "text", "doc_id")
    }
    assert(e.getMessage.contains("repeats ids in column doc_id"), e.getMessage)
    // a repeat with no tokens is never indexed, so it is no clash
    val idx = Retrieval.buildBm25(
      docs.where(F.col("text") =!= "cherry durian")
        .union(Seq((1L, "  ")).toDF("doc_id", "text")), "text", "doc_id")
    assert(idx.nDocs == 2L)
  }

  test("bm25: batch scoring equals the per-query path bit-exactly, on built and loaded indexes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian durian"),
      (4L, "cherry apple durian")).toDF("doc_id", "text")
    val qs = Seq(
      ("qa", Seq("apple", "banana")),
      ("qb", Seq("cherry")),
      ("qc", Seq("durian", "apple"))).toDF("qid", "terms")
    def batchRows(i: Retrieval.Bm25Index) =
      Retrieval.scoreQueryBatch(i, qs, "qid", "terms", k1 = 1.5, b = 0.75)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val idx = Retrieval.buildBm25(docs, "text", "doc_id")
    val perQuery = Seq("qa" -> Seq("apple", "banana"), "qb" -> Seq("cherry"),
      "qc" -> Seq("durian", "apple")).flatMap { case (qid, terms) =>
      Retrieval.scoreQuery(idx, terms, k1 = 1.5, b = 0.75)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.toSet
    assert(batchRows(idx) == perQuery)
    // and identically through the persisted (partition-pruned) index
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-batch").toString
    Retrieval.saveBm25(idx, tmp, termBuckets = 8)
    assert(batchRows(Retrieval.loadBm25(spark, tmp)) == perQuery)
  }

  test("bm25: save/load round trip scores bit-identically; unstamped load fails loudly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian durian")).toDF("doc_id", "text")
    val idx = Retrieval.buildBm25(docs, "text", "doc_id")
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-rt").toString
    Retrieval.saveBm25(idx, tmp, termBuckets = 8)
    val loaded = Retrieval.loadBm25(spark, tmp)
    assert(loaded.nDocs == idx.nDocs && loaded.avgDl == idx.avgDl &&
      loaded.termBuckets.contains(8))
    def rows(i: Retrieval.Bm25Index) =
      Retrieval.scoreQuery(i, Seq("apple", "banana"), k1 = 1.5, b = 0.75)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(loaded) == rows(idx)) // bit-exact: same scalars, same fold
    // a directory without the meta.json stamp is not a loadable index
    val bare = java.nio.file.Files.createTempDirectory("graft-bm25-bare").toString
    idx.postings.write.mode("overwrite").parquet(s"$bare/postings")
    assertThrows[IllegalArgumentException](Retrieval.loadBm25(spark, bare))
  }

  test("exact-n sampling: histogram path picks the identical rows as top-n") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val topn = graft.pipeline.DataMix.sampleExactN(df, "doc_id", 777)
      .collect().map(_.getLong(0)).sorted.toSeq
    // topNMaxN = 0 forces the bucket-histogram plan (filter + boundary
    // bucket top-up) that a >1M-row carve takes at scale
    val hist = graft.pipeline.DataMix.sampleExactN(df, "doc_id", 777, topNMaxN = 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(hist == topn)
    // partition-invariant like the small path
    val hist2 = graft.pipeline.DataMix
      .sampleExactN(df.repartition(13), "doc_id", 777, topNMaxN = 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(hist2 == topn)
    // n >= corpus: the sample is the whole corpus
    assert(graft.pipeline.DataMix
      .sampleExactN(df, "doc_id", 5000, topNMaxN = 0).count() == 2000)
  }

  test("bloom incremental: exact at any fpp, save/load round-trips, prunes work") {
    import spark.implicits._
    val docs = (0L until 400L).map(i => (i, s"document body number ${i % 300}"))
      .toDF("doc_id", "text") // ids 300+ repeat texts 0-99 → in-batch dups
    val history = docs.where(F.col("doc_id") < 200)
    val batch = docs.where(F.col("doc_id") >= 150)
    val exact = Dedup.incrementalNew(history, batch, "text", "doc_id")
      .collect().map(_.getLong(0)).sorted
    // tight filter AND an adversarially collision-heavy one (fpp=0.5):
    // the output must be bit-identical to the exact path either way
    for (fpp <- Seq(0.01, 0.5)) {
      val bf = Dedup.buildBloomIndex(history, "text", fpp = fpp)
      val got = Dedup.incrementalNewBloom(bf, history, batch, "text", "doc_id")
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq == exact.toSeq, s"fpp=$fpp")
    }
    // persistence: a loaded index answers like the built one
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    val bf = Dedup.buildBloomIndex(history, "text")
    Dedup.saveBloomIndex(bf, s"$dir/hist.bloom")
    val loaded = Dedup.loadBloomIndex(s"$dir/hist.bloom")
    val got = Dedup.incrementalNewBloom(loaded, history, batch, "text", "doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == exact.toSeq)
    // and the filter actually prunes: a fully-novel batch has zero
    // possible-members, so nothing reaches the anti-join
    val novel = Seq((9001L, "entirely new text alpha"), (9002L, "entirely new text beta"))
      .toDF("doc_id", "text")
    val novelKeys = novel.select(F.md5(F.col("text")).as("h")).collect().map(_.getString(0))
    assert(novelKeys.forall(h => !bf.mightContainString(h)))
  }

  test("temperature mixing: flattens toward low-resource groups; alpha=1 is plain") {
    import spark.implicits._
    // 900 'big' rows vs 100 'small' rows
    val df = (0L until 1000L).map(i =>
      (i, if (i < 900) "big" else "small")).toDF("doc_id", "grp")
    val rates = graft.pipeline.DataMix
      .temperatureRates(df, "grp", alpha = 0.3, keepFraction = 0.5).toMap
    // flattening: the small group keeps a strictly larger fraction
    assert(rates("small") > rates("big"))
    // alpha=1 makes p_g proportional to n_g, so every group's rate is
    // exactly the keep fraction
    val flat = graft.pipeline.DataMix
      .temperatureRates(df, "grp", alpha = 1.0, keepFraction = 0.5).toMap
    assert(math.abs(flat("big") - 0.5) < 1e-12 &&
      math.abs(flat("small") - 0.5) < 1e-12)
    // the filtered frame respects the rates on the hash grid (exact count
    // check: thresholds are deterministic, so the kept set is fixed)
    val kept = graft.pipeline.DataMix
      .sampleByTemperature(df, "doc_id", "grp", alpha = 0.3, keepFraction = 0.5)
    val byGrp = kept.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp("small").toDouble / 100 > byGrp("big").toDouble / 900)
    assert(kept.count() <= 1000)
  }

  test("mixing accepts non-string group columns (int ids, dates)") {
    import spark.implicits._
    // int group labels: 90 of group 7, 10 of group 12
    val df = (0L until 100L).map(i => (i, if (i < 90) 7 else 12)).toDF("doc_id", "lang_id")
    val rates = graft.pipeline.DataMix
      .temperatureRates(df, "lang_id", alpha = 0.3, keepFraction = 0.5).toMap
    assert(rates.keySet == Set("7", "12") && rates("12") > rates("7"))
    val kept = graft.pipeline.DataMix
      .sampleByTemperature(df, "doc_id", "lang_id", alpha = 0.3, keepFraction = 0.5)
    assert(kept.count() > 0 && kept.count() < 100)
    // string-keyed weights address the int groups by their canonical label
    val weighted = graft.pipeline.DataMix
      .sampleByWeights(df, "doc_id", "lang_id", Map("7" -> 0.1, "12" -> 1.0))
    val byGrp = weighted.groupBy("lang_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byGrp(12) == 10 && byGrp.getOrElse(7, 0L) < 90)
  }

  test("unigram LM: rare text scores above common text; OOV above in-vocab; empty null") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the cat sat on the mat and the cat sat again"),
      (2L, "the cat sat on the mat and the cat sat again"),
      (3L, "the cat sat on the mat and the cat sat again"),
      (4L, "zyx qwv jkl zyx qwv"), // tokens seen only here → rare
      (5L, ""))
      .toDF("doc_id", "text")
    val out = QualityFilters.unigramLogProb(texts, "doc_id", "text")
      .orderBy("doc_id").collect()
    val common = out(0).getDouble(1)
    val rare = out(3).getDouble(1)
    assert(rare > common, s"rare=$rare common=$common")
    assert(out(0).getDouble(1) == out(1).getDouble(1)) // identical docs, identical score
    assert(out(4).isNullAt(1)) // no tokens → null

    // capping the vocab to 1 pushes everything but 'the' out of vocabulary:
    // OOV smoothing must score strictly above the retained token
    val capped = QualityFilters.unigramLogProb(texts, "doc_id", "text", vocabSize = 1)
      .orderBy("doc_id").collect()
    assert(capped(3).getDouble(1) > capped(0).getDouble(1))

    // exact hand-check on a one-doc corpus "a b": counts 1 each, T=2, V=2
    // → p=(1+1)/(2+2+1)=0.4 for both tokens, mean nll = -ln(0.4)
    val one = Seq((1L, "a b")).toDF("doc_id", "text")
    val got = QualityFilters.unigramLogProb(one, "doc_id", "text")
      .collect()(0).getDouble(1)
    assert(math.abs(got - (-math.log(2.0 / 5.0))) < 1e-12)
  }

  test("wav guards: short fmt chunk rejected, compressed payloads report 0 frames") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def wav(fmtTag: Int, fmtSz: Int): Array[Byte] =
      "RIFF".getBytes ++ le32(100) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(fmtSz) ++ le16(fmtTag) ++ le16(2) ++ le32(44100) ++
        le32(44100 * 2 * 2) ++ le16(4) ++ le16(16) ++
        "data".getBytes ++ le32(32) ++ Array.fill(32)(0.toByte)
    // a fmt chunk declaring < 16 payload bytes is corrupt: the walk must not
    // read format fields from it (the declared 8 bytes end mid-field), so the
    // fmt never registers and the sniff fails instead of returning garbage
    assert(MediaHeaders.sniffWav(wav(1, 8)).isEmpty)
    // ADPCM (tag 2): dataSize counts compressed bytes, frames must be 0
    val adpcm = MediaHeaders.sniffWav(wav(2, 16)).get
    assert(adpcm.sampleRate == 44100 && adpcm.channels == 2 && adpcm.nSampleFrames == 0L)
    // IEEE float (tag 3) and EXTENSIBLE (0xFFFE) stay uncompressed: 32 bytes / 4 = 8
    assert(MediaHeaders.sniffWav(wav(3, 16)).get.nSampleFrames == 8L)
    assert(MediaHeaders.sniffWav(wav(0xfffe, 16)).get.nSampleFrames == 8L)
  }

  test("duplicate spans: window positions and counts, within and across docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"),     // windows: "a b c"(0) "b c d"(1) "c d e"(2)
      (2L, "x b c d y"),     // "x b c"(0) "b c d"(1) "c d y"(2)
      (3L, "p q p q p q"),   // "p q p"(0,2) "q p q"(1,3) — within-doc repeats
      (4L, "one two"))       // < n tokens: no windows
      .toDF("id", "text")
    val spans = Dedup.duplicateSpans(df, "text", "id", n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(spans == Set(
      (1L, 1, 2L), (2L, 1, 2L),                        // shared "b c d"
      (3L, 0, 2L), (3L, 2, 2L), (3L, 1, 2L), (3L, 3, 2L))) // self-repeats
    val summary = Dedup.duplicateSpanSummary(df, "text", "id", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(summary == Set((1L, 1L, 1), (2L, 1L, 1), (3L, 4L, 0)))
  }

  test("lsh nbits=0: one bucket, routed search equals brute force exactly") {
    val corpus = emb.limit(60).cache()
    val queries = corpus.limit(4)
    assert(corpus.select(Similarity.lshBucket(F.col("embedding"), 0).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    val viaLsh = res(Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
      "vec_id", k = 5, nbits = 0))
    val viaBrute = res(Similarity.bruteForceTopK(corpus, queries, "vec_id",
      "embedding", "vec_id", k = 5))
    assert(viaLsh == viaBrute)
    corpus.unpersist()
  }

  test("multimodal: GIF frame count from the data-stream block walk") {
    // hand-built GIF89a, 3x2, no color tables, two frames each preceded by
    // a graphic control extension; LZW payload is length-skipped garbage
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val gce = Array(0x21, 0xf9, 0x04, 0x00, 0x0a, 0x00, 0x00, 0x00).map(_.toByte)
    val frame = gce ++
      (Array(0x2c).map(_.toByte) ++ le16(0) ++ le16(0) ++ le16(3) ++ le16(2) ++
        Array(0x00, 0x02, 0x02, 0x4c, 0x01, 0x00).map(_.toByte))
    val anim = "GIF89a".getBytes ++ le16(3) ++ le16(2) ++
      Array(0x00, 0x00, 0x00).map(_.toByte) ++ frame ++ frame ++
      Array(0x3b.toByte)
    val d = MediaHeaders.sniff(anim).get
    assert(d == MediaHeaders.ImageDims("gif", 3, 2, 2))
    // truncated mid-second-frame: counts what it saw
    assert(MediaHeaders.sniff(anim.dropRight(12)).get.nFrames >= 1)
    // a 10-byte prefix (exactly sniff's minimum) is a still, not an
    // out-of-bounds read
    assert(MediaHeaders.sniff("GIF89a".getBytes ++ le16(3) ++ le16(2)).get ==
      MediaHeaders.ImageDims("gif", 3, 2, 1))
    // a still written by ImageIO (with global color table) reports 1
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", out)
    assert(MediaHeaders.sniff(out.toByteArray).get ==
      MediaHeaders.ImageDims("gif", 8, 8, 1))
    // decode row carries the real frame count
    assert(Multimodal.decode("image", anim).getInt(3) == 2)
  }

  test("multimodal: real MP3 frame-header walk (rate/channels/bitrate/frames)") {
    // MPEG1 Layer III, 128 kbps, 44100 Hz, joint stereo, no padding:
    // header FF FB 90 40, frame length = 144*128000/44100 = 417 bytes
    val frame = Array(0xff, 0xfb, 0x90, 0x40).map(_.toByte) ++
      Array.fill(417 - 4)(0x55.toByte)
    val id3 = "ID3".getBytes ++ Array[Byte](4, 0, 0) ++
      Array[Byte](0, 0, 0, 20) ++ Array.fill(20)(0.toByte) // syncsafe size 20
    val mp3 = id3 ++ frame ++ frame ++ frame
    assert(MediaHeaders.sniffMp3(mp3).get ==
      MediaHeaders.Mp3Meta(44100, 2, 128, 3))
    // without the ID3 tag, frames from byte 0
    assert(MediaHeaders.sniffMp3(frame ++ frame).get.nFrames == 2)
    // VBR: a 160 kbps frame (idx 10 -> A0) follows -> mean bitrate 144
    val frame160 = Array(0xff, 0xfb, 0xa0, 0x40).map(_.toByte) ++
      Array.fill((144 * 160000 / 44100) - 4)(0x55.toByte)
    val vbr = MediaHeaders.sniffMp3(frame ++ frame160).get
    assert(vbr.bitrateKbps == 144 && vbr.nFrames == 2)
    // mono: mode bits 11 -> channels 1
    val mono = Array(0xff, 0xfb, 0x90, 0xc0).map(_.toByte) ++ Array.fill(413)(0.toByte)
    assert(MediaHeaders.sniffMp3(mono).get.channels == 1)
    // text and garbage never sniff (no resync scan; reserved codes rejected)
    assert(MediaHeaders.sniffMp3("plain text document".getBytes).isEmpty)
    assert(MediaHeaders.sniffMp3(Array(0xff, 0xe0, 0x90, 0x40).map(_.toByte)
      ++ Array.fill(100)(0.toByte)).isEmpty) // reserved layer code
    // through the partition decoder: audio fields, frame count, null bits
    val row = Multimodal.decode("audio", mp3)
    assert(row.getString(0) == "mp3" && row.getInt(3) == 3 &&
      row.getInt(5) == 44100 && row.getInt(6) == 2 && row.isNullAt(7))
  }

  test("multimodal: real MP4 box walk (dims/duration/sample count)") {
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(t: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ t.getBytes ++ payload
    // mvhd v0: flags + creation + modification + timescale 1000 + duration 5000
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(5000) ++
      Array.fill(80)(0.toByte))
    // tkhd v0: width/height 16.16-fixed at payload offsets 76/80
    val tkhd = box("tkhd", Array.fill(76)(0.toByte) ++ be32(640 << 16) ++ be32(360 << 16))
    // stts: two entries, 100 + 50 samples
    val stts = box("stts", be32(0) ++ be32(2) ++
      be32(100) ++ be32(512) ++ be32(50) ++ be32(512))
    def hdlr(kind: String) = box("hdlr", be32(0) ++ be32(0) ++ kind.getBytes)
    val videoTrak = box("trak", tkhd ++
      box("mdia", hdlr("vide") ++ box("minf", box("stbl", stts))))
    // an audio trak with its own 431-sample stts: must NOT count as frames
    val audioStts = box("stts", be32(0) ++ be32(1) ++ be32(431) ++ be32(1024))
    val audioTrak = box("trak", Array.fill(0)(0.toByte) ++
      box("mdia", hdlr("soun") ++ box("minf", box("stbl", audioStts))))
    val moov = box("moov", mvhd ++ videoTrak ++ audioTrak)
    val ftyp = box("ftyp", "isom".getBytes ++ be32(512) ++ "isomiso2".getBytes)
    val mp4 = ftyp ++ moov ++ box("mdat", Array.fill(32)(0.toByte))
    assert(MediaHeaders.sniffMp4(mp4).get ==
      MediaHeaders.VideoMeta("mp4", 640, 360, 5000L, 150L))
    // header-only prefix: mdat declares 1 MB that isn't present — the walk
    // ends at the truncation, moov metadata already collected
    val prefix = ftyp ++ moov ++ (be32(1048576) ++ "mdat".getBytes)
    assert(MediaHeaders.sniffMp4(prefix).get.durationMs == 5000L)
    // no moov (fragment), text, and corrupt sizes all fall through
    assert(MediaHeaders.sniffMp4(ftyp ++ box("mdat", Array.fill(8)(0.toByte))).isEmpty)
    assert(MediaHeaders.sniffMp4("a text document long enough to matter".getBytes).isEmpty)
    assert(MediaHeaders.sniffMp4(be32(3) ++ "moov".getBytes ++ Array.fill(16)(0.toByte)).isEmpty)
    // through the partition decoder: dims + sample count as frames
    val row = Multimodal.decode("video", mp4)
    assert(row.getString(0) == "mp4" && row.getInt(1) == 640 &&
      row.getInt(2) == 360 && row.getInt(3) == 150 && row.isNullAt(5))
  }

  test("packing: input columns named pid/offset survive untouched") {
    import spark.implicits._
    val rows = Seq((1L, 100L, "p1", 7L), (2L, 3000L, "p2", 8L), (3L, 2000L, "p3", 9L))
      .toDF("id", "tok", "pid", "offset")
    val got = graft.pipeline.Packing.packByBudget(rows, "id", "tok", 2048L)
      .orderBy("id").collect()
    assert(got.map(_.getString(2)).toSeq == Seq("p1", "p2", "p3"))
    assert(got.map(_.getLong(3)).toSeq == Seq(7L, 8L, 9L))
    assert(got.map(r => r.getLong(r.fieldIndex("pack_id"))).toSeq == Seq(0L, 0L, 1L))
  }

  test("sharded export with partitionBy: root-relative shard keys, exact manifest") {
    import spark.implicits._
    // two partition dirs, small maxRecordsPerFile -> Spark's dynamic-
    // partition writer emits identically-NAMED part files in both dirs;
    // basename keys would merge their counts and fan out the byte join
    val out = java.nio.file.Files.createTempDirectory("graft-export-p").toString + "/corpus"
    val df = (0L until 20L).map(i => (i, if (i < 12) "en" else "de", s"doc $i"))
      .toDF("doc_id", "lang", "text").coalesce(1)
    val manifest = graft.pipeline.Export.writeSharded(
        df, out, format = "jsonl", maxRecordsPerFile = 5L,
        partitionBy = Seq("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 12 en rows -> 3 files, 8 de rows -> 2 files; every key distinct and
    // prefixed by its partition dir; counts sum to the corpus exactly
    assert(manifest.length == 5, manifest.mkString(","))
    assert(manifest.map(_._1).distinct.length == 5)
    assert(manifest.count(_._1.startsWith("lang=en/")) == 3)
    assert(manifest.count(_._1.startsWith("lang=de/")) == 2)
    assert(manifest.map(_._2).sum == 20L)
    assert(manifest.forall(_._3 > 0L)) // every byte size resolved (no fan-out)
    // round-trip is lossless including the partition column
    val back = spark.read.json(out).select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSet
    assert(back == (0L until 20L).map(i =>
      (i, if (i < 12) "en" else "de", s"doc $i")).toSet)
  }

  test("weight keys use the canonical string cast; unreachableWeightKeys audits misspellings") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, if (i < 90) 7.0 else 12.5))
      .toDF("doc_id", "score_band")
    // DoubleType 7 casts to "7.0" — a key written "7" never matches and
    // silently falls through to defaultWeight
    assert(graft.pipeline.DataMix.unreachableWeightKeys(
      df, "score_band", Map("7" -> 0.1, "12.5" -> 1.0)) == Set("7"))
    assert(graft.pipeline.DataMix.unreachableWeightKeys(
      df, "score_band", Map("7.0" -> 0.1, "12.5" -> 1.0)).isEmpty)
    val kept = graft.pipeline.DataMix.sampleByWeights(
        df, "doc_id", "score_band", Map("7.0" -> 0.1, "12.5" -> 1.0),
        defaultWeight = 0.0)
      .groupBy("score_band").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(kept(12.5) == 10L && kept.getOrElse(7.0, 0L) < 90L)
  }

  test("span removal: fully-duplicated doc collapses to merged spans, output unchanged") {
    import spark.implicits._
    // doc 2 is a verbatim copy of doc 1 (> 2n tokens): every one of its
    // windows is a duplicated span, and the raw spans overlap heavily —
    // the merge pass collapses them to ONE span covering the whole doc
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, body),
      (2L, body),
      (3L, s"unique prefix here $body and a unique suffix tail")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "text", "doc_id", n = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) == ((body, 0L)))          // canonical copy untouched
    assert(got(2L) == (("", 30L)))           // full excision, one merged span
    // doc 3 keeps its unique frame; the embedded copy is excised
    assert(got(3L) == (("unique prefix here and a unique suffix tail", 30L)))
  }

  test("rrf fusion: known ranks, absent docs contribute zero, exact doubles") {
    import spark.implicits._
    val lex = Seq((1L, 10.0), (2L, 5.0)).toDF("id", "score")
    val dense = Seq((2L, 0.9), (3L, 0.8)).toDF("id", "score")
    val got = Retrieval.rrfFuse(Seq(lex, dense), "id", "score", kRrf = 60)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getAs[Double]("rrf"))).toMap
    // doc 1: rank 1 lexical only; doc 2: rank 2 + rank 1; doc 3: dense only
    assert(got(1L) == ((Some(1L), None, 1.0 / 61.0 + 0.0)))
    assert(got(2L) == ((Some(2L), Some(1L), 1.0 / 62.0 + 1.0 / 61.0)))
    assert(got(3L) == ((None, Some(2L), 0.0 + 1.0 / 62.0)))
  }

  test("rrf fusion: score ties break by id, ranks are a permutation") {
    import spark.implicits._
    val tied = Seq((5L, 1.0), (3L, 1.0), (9L, 2.0), (1L, 1.0)).toDF("id", "score")
    val ranks = Retrieval.rrfFuse(Seq(tied), "id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks == Map(9L -> 1L, 1L -> 2L, 3L -> 3L, 5L -> 4L))
  }

  test("normalizeText: CCNet canonical key semantics") {
    import spark.implicits._
    val got = Seq(
      "Hello, World!  123",
      "  spaced\tout\ttext  ",
      "price: $45.99 (sale)",
      "UPPER lower MiXeD").toDF("t")
      .select(TextAnalysis.normalizeText(F.col("t")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "hello world 000",
      "spaced out text",
      "price 0000 sale",
      "upper lower mixed"))
  }

  test("incremental near-dup: an unstamped band index fails loudly") {
    import spark.implicits._
    val history = Seq((1L, "some history document text here")).toDF("id", "text")
    val batch = Seq((10L, "some batch document text here")).toDF("id", "text")
    val stripped = Dedup.minhashBandIndex(history, "text", "id")
      .select(F.col("id"), F.col("band"), F.col("bh").cast("long").as("bh"))
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalNearDupPairs(stripped, history, batch, "text", "id"))
    assert(e.getMessage.contains("unstamped"))
  }

  test("BPE training reproduces the Sennrich worked example, application round-trips") {
    import graft.pipeline.Tokenize
    import spark.implicits._
    // the classic vocabulary {low:5, lower:2, newest:6, widest:3}: pair
    // counts give e-s=9 and s-t=9 (tie -> lexicographically smaller), then
    // es-t=9; after est fuses, l-o and o-w tie at 7 -> (l,o)
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = Tokenize.learnBpeMerges(corpus, "text", numMerges = 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o")), merges)
    // greedy-by-rank application on "newest": (e,s) fuses first giving
    // n e w es t, then (es,t) gives n e w est; (l,o) never matches
    val enc = Tokenize.encodeWord("newest", merges.zipWithIndex.toMap)
    assert(enc == Seq("n", "e", "w", "est"), enc)
    assert(enc.mkString == "newest", enc)      // round-trip: no chars lost
    // real corpus: learned merges round-trip every document and the
    // token stream is invariant to partitioning
    val docMerges = Tokenize.learnBpeMerges(docs, "text", 50, minFreq = 2)
    val a = Tokenize.withBpeTokens(docs, "text", docMerges)
      .select(F.col("doc_id"), F.concat_ws("", F.col("tokens")).as("joined"),
        F.regexp_replace(F.col("text"), "\\s+", "").as("nows"))
    assert(a.where(F.col("joined") =!= F.col("nows")).count() == 0)
    val t1 = Tokenize.withBpeTokens(docs, "text", docMerges)
      .select("doc_id", "n_tokens").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val t2 = Tokenize.withBpeTokens(docs.repartition(7), "text", docMerges)
      .select("doc_id", "n_tokens").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(t1 == t2)
    // more merges can only compress: total tokens monotonically non-increasing
    val few = Tokenize.withBpeTokens(docs, "text", docMerges.take(10))
      .agg(F.sum("n_tokens")).head().getLong(0)
    val many = Tokenize.withBpeTokens(docs, "text", docMerges)
      .agg(F.sum("n_tokens")).head().getLong(0)
    assert(many <= few, s"$many > $few")
  }

  test("splitByKey: every key lands in exactly one split, stable to partitioning") {
    import graft.pipeline.DataMix
    val out = DataMix.splitByKey(docs, "source", valFrac = 0.2, testFrac = 0.2)
    // co-assignment: no source straddles splits
    val straddle = out.groupBy("source")
      .agg(F.countDistinct(F.col("split")).as("k"))
      .where(F.col("k") > 1).count()
    assert(straddle == 0)
    // all three splits materialize and cover the corpus
    val sizes = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.sum == docs.count())
    assert(sizes.keySet == Set("train", "val", "test"), sizes)
    // a key's split never changes with partitioning
    val a = out.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = DataMix.splitByKey(docs.repartition(7), "source", 0.2, 0.2)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("curriculumPhases: boundary to lower phase, balanced tiers, partition-stable") {
    import graft.pipeline.DataMix
    import spark.implicits._
    // hand case: scores 1..8, 2 phases -> cut = rank ceil(0.5*8)=4 -> value 4;
    // score 4 (== cut) lands in phase 1, score 5 in phase 2
    val small = (1L to 8L).map(i => (i, i)).toDF("id", "score")
    val got = DataMix.curriculumPhases(small, "score", phases = 2,
        tiebreakers = Seq("id"))
      .select("score", "phase").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(4L) == 1 && got(5L) == 2, got)
    assert(got.count(_._2 == 1) == 4 && got.count(_._2 == 2) == 4, got)
    // corpus: 4 phases cover every row, each phase non-empty, phases are
    // score-monotone (max of phase k <= min of phase k+1)
    val scored = docs.select(F.col("doc_id"), F.col("n_chars"))
    val p = DataMix.curriculumPhases(scored, "n_chars", 4, Seq("doc_id"))
    val agg = p.groupBy("phase")
      .agg(F.count(F.lit(1)).as("n"), F.min("n_chars").as("lo"), F.max("n_chars").as("hi"))
      .orderBy("phase").collect()
    assert(agg.length == 4 && agg.forall(_.getLong(1) > 0), agg.mkString(","))
    agg.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) <= b.getLong(2), s"phases not monotone: $a $b")
    }
    assert(p.count() == scored.count())
    // stable under partitioning
    val a = p.select("doc_id", "phase").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = DataMix.curriculumPhases(scored.repartition(7), "n_chars", 4, Seq("doc_id"))
      .select("doc_id", "phase").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
    // a corpus smaller than `phases` would collide quantile ranks — loud
    // failure, not silently inflated phase numbers
    val tiny = (1L to 3L).map(i => (i, i)).toDF("id", "score")
    val ex = intercept[IllegalArgumentException] {
      DataMix.curriculumPhases(tiny, "score", phases = 4, tiebreakers = Seq("id"))
    }
    assert(ex.getMessage.contains("phases"), ex.getMessage)
  }

  test("distinct sketches: accurate per group, mergeable across persisted parts") {
    import spark.implicits._
    import graft.pipeline.Report
    // two disjoint halves with a known overlap structure
    val a = (0L until 20000L).map(i => ("a", i)).toDF("g", "x")
    val b = (10000L until 30000L).map(i => ("b", i)).toDF("g", "x")
    val sk = Report.distinctSketch(a.unionByName(b), "g", "x")
    val est = sk.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(math.abs(est("a") - 20000L) < 600, est)
    assert(math.abs(est("b") - 20000L) < 600, est)
    // merge WITHOUT rescanning: union of the two groups' sketches must
    // estimate |A ∪ B| = 30000, not the 40000 a sum would claim
    val dir = java.nio.file.Files.createTempDirectory("graft-hll").toString
    sk.select("sketch").write.mode("overwrite").parquet(dir) // persistence
    val merged = Report.mergeDistinctSketches(spark.read.parquet(dir))
    assert(math.abs(merged - 30000L) < 900, merged)
    // determinism: same input under different partitionings, same sketch estimate
    val re = Report.distinctSketch(a.repartition(13).unionByName(b.repartition(3)),
      "g", "x").collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(re == est)
    // per-group merge: each group's half-sketches union to the group's
    // whole-corpus estimate EXACTLY (HLL register unions are
    // order-insensitive), with no data rescan
    val halves = Report.distinctSketch(
        a.unionByName(b).where(F.col("x") % 2 === 0), "g", "x")
      .unionByName(Report.distinctSketch(
        a.unionByName(b).where(F.col("x") % 2 === 1), "g", "x"))
    val byGroup = Report.mergeDistinctSketchesByGroup(
        halves.select("g", "sketch"), "g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup == est, s"per-group merge drifted: $byGroup vs $est")
  }

  test("randomProjection: norms preserved in expectation, distances correlate") {
    import graft.pipeline.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").where(F.col("vec_id") < 100)
    val rows = Similarity.randomProjection(emb, "embedding", "proj", 64, 16)
      .select("vec_id", "embedding", "proj").collect()
      .map(r => (r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getSeq[Double](2).toArray))
    def sq(a: Array[Double]) = a.map(x => x * x).sum
    // E[||Px||^2] = ||x||^2 — the per-vector ratio concentrates around 1
    val ratios = rows.map { case (x, p) => sq(p) / sq(x) }
    val meanR = ratios.sum / ratios.length
    assert(meanR > 0.8 && meanR < 1.2, s"mean norm ratio $meanR")
    // the JL guarantee is (1±ε) DISTORTION of each pairwise distance, with
    // ε shrinking as outDim grows — assert the ratio concentration at 16
    // and that doubling the target dimension four-fold tightens it
    def d2(a: Array[Double], b: Array[Double]) =
      sq(a.zip(b).map { case (u, v) => u - v })
    val rows64 = Similarity.randomProjection(emb, "embedding", "proj", 64, 64)
      .select("vec_id", "embedding", "proj").collect()
      .map(r => (r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getSeq[Double](2).toArray))
    def ratioStd(rs: Array[(Array[Double], Array[Double])]): (Double, Double) = {
      val ratios = (for (i <- rs.indices.take(40); j <- i + 1 until 40)
        yield d2(rs(i)._2, rs(j)._2) / d2(rs(i)._1, rs(j)._1)).toArray
      val m = ratios.sum / ratios.length
      (m, math.sqrt(ratios.map(r => (r - m) * (r - m)).sum / ratios.length))
    }
    val (m16, s16) = ratioStd(rows)
    val (m64, s64) = ratioStd(rows64)
    assert(m16 > 0.8 && m16 < 1.2, s"distortion mean@16 $m16")
    assert(m64 > 0.9 && m64 < 1.1, s"distortion mean@64 $m64")
    assert(s64 < s16, s"distortion must tighten with outDim: $s64 vs $s16")
  }

  test("heavyHittersTwoPass: equals the one-shuffle exact op under any partitioning") {
    import graft.pipeline.Vocab
    val d = docs.select("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exact = norm(Vocab.heavyHitters(d, "text", minFrac = 0.002))
    assert(exact.nonEmpty)
    // the MG candidate union is partitioning-dependent; the verified
    // output must not be
    for (p <- Seq(1, 3, 13)) {
      val got = norm(Vocab.heavyHittersTwoPass(d.repartition(p), "text",
        minFrac = 0.002))
      assert(got == exact, s"partitions=$p: ${got.size} vs ${exact.size}")
    }
    // an undersized sketch cannot guarantee the frequency floor: loud
    val ex = intercept[IllegalArgumentException] {
      Vocab.heavyHittersTwoPass(d, "text", minFrac = 0.002, sketchK = 100)
    }
    assert(ex.getMessage.contains("sketchK"), ex.getMessage)
  }

  test("zipfFit: degenerate single-token corpus reports NULL, never NaN") {
    import graft.pipeline.Vocab
    import spark.implicits._
    val mono = Seq.fill(5)(Tuple1("word word word")).toDF("body")
    val r = Vocab.zipfFit(mono, "body", topK = 10).collect()
    assert(r.length == 1)
    assert(r(0).getInt(2) == 1, r(0))
    assert(r(0).isNullAt(0) && r(0).isNullAt(1), r(0))
  }

  test("matchDistribution: achieved mix tracks the target, binding group kept whole") {
    import graft.pipeline.DataMix
    val target = Map("en" -> 0.5, "fr" -> 0.3, "de" -> 0.2)
    val kept = DataMix.matchDistribution(docs, "doc_id", "lang", target)
    val counts = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // groups outside the target are dropped entirely
    assert(!counts.contains("zh") && !counts.contains("es"), counts)
    // achieved fractions within hash-rounding tolerance of the target
    val n = counts.values.sum.toDouble
    for ((g, t) <- target)
      assert(math.abs(counts(g) / n - t) < 0.08, s"$g: ${counts(g) / n} vs $t -- $counts")
    // the binding group (largest C_g/t_g deficit) keeps ~everything
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val binding = target.keys.minBy(g => totals(g) / target(g))
    assert(counts(binding).toDouble / totals(binding) > 0.9,
      s"binding=$binding $counts vs $totals")
  }
}
