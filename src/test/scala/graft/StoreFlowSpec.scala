package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableFrame
import graft.flow.FlowEngine
import graft.sources.{FileSink, FileSource, Sources}
import graft.store._

class StoreFlowSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import TestSession.sf

  def freshStore(): TableStore =
    new TableStore(Files.createTempDirectory("graft-store").toString, spark)

  test("version grammar parses all selector forms") {
    import Version._
    assert(Version.parse("HEAD") == Head(0))
    assert(Version.parse("HEAD^") == Head(1))
    assert(Version.parse("HEAD^^") == Head(2))
    assert(Version.parse("HEAD~3") == Head(3))
    assert(Version.parse("INITIAL") == Initial(0))
    assert(Version.parse("INITIAL~2") == Initial(2))
    assert(Version.parse("0123456789abcdefghijklmnop") == Fixed("0123456789abcdefghijklmnop"))
    intercept[IllegalArgumentException](Version.parse("HEAD~x"))
    assert(Versions.parse("HEAD,HEAD^") ==
      Versions.VList(Seq(Head(0), Head(1))))
    assert(Versions.parse("INITIAL..HEAD") ==
      Versions.VRange(Initial(0), Head(0)))
    val r = TableRef.parse("sales/orders@HEAD~1")
    assert(r.collection == "sales" && r.table == "orders" &&
      r.versions == Versions.Single(Head(1)))
  }

  test("store: versions resolve HEAD/INITIAL/fixed/range across writes") {
    val store = freshStore()
    import spark.implicits._
    val v1 = store.write("c", "t", Seq(1, 2, 3).toDF("x"))
    val v2 = store.write("c", "t", Seq(4, 5).toDF("x"))
    val v3 = store.write("c", "t", Seq(6).toDF("x"))
    assert(store.versions("c", "t").map(_.id) == Seq(v1.id, v2.id, v3.id))
    assert(store.resolveOne("c", "t", Version.Head(0)).get.id == v3.id)
    assert(store.resolveOne("c", "t", Version.Head(2)).get.id == v1.id)
    assert(store.resolveOne("c", "t", Version.Initial(0)).get.id == v1.id)
    assert(store.resolveOne("c", "t", Version.Initial(1)).get.id == v2.id)
    assert(store.resolveOne("c", "t", Version.Fixed(v2.id)).get.id == v2.id)
    assert(store.resolveOne("c", "t", Version.Head(5)).isEmpty)
    val range = store.resolve("c", "t", Versions.parse("INITIAL..HEAD"))
    assert(range.map(_.id) == Seq(v1.id, v2.id, v3.id))
    // scan HEAD sees only v3's rows; user columns preserved, system added
    val head = store.scan("c/t").get
    assert(head.df.select("x").collect().map(_.getInt(0)).sorted.toSeq == Seq(6))
    assert(head.columns("system").nonEmpty)
    // multi-version scan unions
    val both = store.scan("c/t@HEAD,HEAD^").get
    assert(both.df.count() == 3)
  }

  test("store: schema evolution — range scan, diff, history across an " +
    "added column") {
    val store = freshStore()
    import spark.implicits._
    // v1 (a, b); v2 adds c and changes one b — schema hash is change
    // DETECTION, not a constraint: the range scan aligns by name and
    // reads v1's missing c as NULL
    store.write("c", "t", Seq((1L, "x"), (2L, "y")).toDF("a", "b"))
    store.write("c", "t",
      Seq((1L, "x", 10L), (2L, "z", 20L)).toDF("a", "b", "c"))
    val range = store.scan("c/t@INITIAL..HEAD").get.df
    assert(range.count() == 4)
    val v1c = range.where(F.col("c").isNull).select("a")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(v1c == Seq(1L, 2L), "v1 rows read c as NULL")
    // diff across the schema change: key 2 changed b AND gained c; key 1
    // gained a non-null c (diff's one-sided rule: non-null present side
    // = changed)
    val d = graft.store.VersionDiff.diffVersions(
        store, "c/t@HEAD~1", "c/t@HEAD", Seq("a"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(d(1L)._1 == "update" && d(1L)._2 == "c", d.toString)
    assert(d(2L)._1 == "update" && d(2L)._2.split(",").toSet == Set("b", "c"),
      d.toString)
    // history unrolls across the change: key 2 has two change points
    val h = graft.store.VersionDiff.historyOf(store, "c", "t", Seq("a"))
    assert(h.where(F.col("a") === 2L).count() == 2)
    assert(h.where(F.col("a") === 1L).count() == 2,
      "gaining a non-null c is a change point for key 1 too")
    // a column changing TYPE still raises loudly — at plan time, from
    // the log's staged schemas (union coercion would cast silently with
    // ANSI off, or fail row-by-row with ANSI on)
    store.write("c", "u", Seq((1L, 1L)).toDF("a", "b"))
    store.write("c", "u", Seq((1L, "s")).toDF("a", "b"))
    val err = intercept[IllegalArgumentException] {
      store.scan("c/u@INITIAL..HEAD")
    }
    assert(err.getMessage.contains("changes type"), err.getMessage)
  }

  test("store: type-widening evolution — strict scan raises, scanRelaxed " +
    "widens via the supertype lattice; schema-less entries join the guard") {
    val store = freshStore()
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // v1 a:int / v2 a:long (+ new c): int32→int64 is exactly what the
    // reference's vertical_relaxed concat tolerates
    store.write("c", "w", Seq((1, "x"), (2, "y")).toDF("a", "b"))
    store.write("c", "w",
      Seq((1L, "x", 10.0), (2L, "z", 20.0)).toDF("a", "b", "c"))
    val err = intercept[IllegalArgumentException] {
      store.scan("c/w@INITIAL..HEAD")
    }
    assert(err.getMessage.contains("changes type"), err.getMessage)
    val rel = store.scanRelaxed("c/w@INITIAL..HEAD").get.df
    assert(rel.schema("a").dataType == LongType, rel.schema.treeString)
    assert(rel.schema("c").dataType == DoubleType)
    assert(rel.count() == 4)
    assert(rel.select("a").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 1L, 2L, 2L))
    assert(rel.where(F.col("c").isNull).count() == 2, "v1 rows read c as NULL")
    // diff still works across the widened pair (each ref is a
    // single-version scan; the key join coerces int vs long)
    val d = graft.store.VersionDiff.diffVersions(
        store, "c/w@HEAD~1", "c/w@HEAD", Seq("a"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(d(1L)._1 == "update" && d(1L)._2 == "c", d.toString)
    assert(d(2L)._1 == "update" && d(2L)._2.split(",").toSet == Set("b", "c"),
      d.toString)
    // a version whose LOG entry lacks a staged schema (legacy write)
    // contributes its parquet footer schema to the guard instead of
    // bypassing it: strip v2's schema field from the log, retype still
    // raises strictly and still widens relaxed
    store.write("c", "u", Seq(1).toDF("a"))
    val v2 = store.write("c", "u", Seq(2L).toDF("a"))
    val log = java.nio.file.Paths.get(store.root, "c", "u", "_log.jsonl")
    val rewritten = Files.readString(log).linesIterator.map { ln =>
      if (ln.contains(v2.id)) ln.replaceAll(",\"schema\":\"[^\"]*\"", "")
      else ln
    }.mkString("", "\n", "\n")
    Files.writeString(log, rewritten)
    assert(store.versions("c", "u").last.schema.isEmpty,
      "test setup: v2 must be schema-less in the log")
    val err2 = intercept[IllegalArgumentException] {
      store.scan("c/u@INITIAL..HEAD")
    }
    assert(err2.getMessage.contains("changes type"), err2.getMessage)
    val rel2 = store.scanRelaxed("c/u@INITIAL..HEAD").get.df
    assert(rel2.schema("a").dataType == LongType)
    assert(rel2.select("a").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    // a LOSSY collision (long vs string) still unifies through the
    // lattice — to string, the relaxed contract's last-resort common
    // representation (exactly vertical_relaxed's rule)
    store.write("c", "v", Seq(7L).toDF("a"))
    store.write("c", "v", Seq("eight").toDF("a"))
    intercept[IllegalArgumentException](store.scan("c/v@INITIAL..HEAD"))
    val rel3 = store.scanRelaxed("c/v@INITIAL..HEAD").get.df
    assert(rel3.schema("a").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(rel3.select("a").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("7", "eight"))
    // a single-version ref never widens: v1 alone still reads as long
    assert(store.scanRelaxed("c/v@INITIAL").get.df.schema("a").dataType ==
      LongType)
  }

  test("store: schema probe answers from the log, matches the scanned frame") {
    val store = freshStore()
    import spark.implicits._
    store.write("c", "t", Seq((1, "a")).toDF("x", "label"))
    store.write("c", "t", Seq((2, "b", 0.5)).toDF("x", "label", "score"))
    // metadata-only probe == the schema a reader actually gets
    assert(store.schema("c/t").get == store.scan("c/t").get.df.schema)
    // version selectors resolve: the previous version lacks `score`
    val prev = store.schema(graft.store.TableRef.parse("c/t@HEAD^")).get
    assert(!prev.fieldNames.contains("score"))
    assert(store.schema("c/missing").isEmpty)
  }

  test("store: vacuum retains the newest k versions, prunes the rest loudly") {
    val store = freshStore()
    import spark.implicits._
    val ids = (1 to 5).map(i => store.write("c", "t", Seq(i).toDF("x")).id)
    val pruned = store.vacuum("c", "t", keepLast = 2)
    assert(pruned == ids.take(3), pruned)
    assert(store.versions("c", "t").map(_.id) == ids.drop(3))
    // survivors resolve and scan; HEAD~1 is the 4th write
    assert(store.resolveOne("c", "t", Version.Head(1)).get.id == ids(3))
    assert(store.scan("c/t@HEAD").get.df.select("x").head().getInt(0) == 5)
    // a pruned FIXED id fails resolution the same way a never-existed one does
    assert(store.resolveOne("c", "t", Version.Fixed(ids.head)).isEmpty)
    intercept[Exception](store.resolve("c", "t", Versions.parse(ids.head)))
    // pruned data dirs are gone from disk; survivors remain
    val tdir = java.nio.file.Paths.get(store.root, "c", "t")
    ids.take(3).foreach(id =>
      assert(!java.nio.file.Files.exists(tdir.resolve(id)), id))
    ids.drop(3).foreach(id =>
      assert(java.nio.file.Files.exists(tdir.resolve(id)), id))
    // idempotent: nothing more to prune at the same retention
    assert(store.vacuum("c", "t", keepLast = 2).isEmpty)
    // new writes keep flowing after a vacuum
    val v6 = store.write("c", "t", Seq(6).toDF("x"))
    assert(store.versions("c", "t").map(_.id) == (ids.drop(3) :+ v6.id))
  }

  test("store: fsck reports each corruption kind, clean store reports none") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val store = freshStore()
    val v1 = store.write("c", "t", Seq(1, 2, 3).toDF("x"))
    val v2 = store.write("c", "t", Seq(4, 5).toDF("x"))
    assert(store.fsck(verifyCounts = true).isEmpty)

    val tdir = JPaths.get(store.root, "c", "t")
    // orphan: a hex-named dir no log entry references
    JFiles.createDirectories(tdir.resolve("deadbeefcafe"))
    // staging-leak: v1 is committed but a staged copy lingers
    JFiles.createDirectories(tdir.resolve(".staging").resolve(v1.id))
    // missing-data: v2's data dir removed out-of-band
    graft.store.TableStore.deleteTree(tdir.resolve(v2.id))
    val kinds = store.fsck().groupBy(_.kind).view.mapValues(_.size).toMap
    assert(kinds == Map("orphan-dir" -> 1, "staging-leak" -> 1,
      "missing-data" -> 1), kinds)

    // row-mismatch: delete one part file from a healthy version
    val store2 = freshStore()
    val w = store2.write("c", "t", spark.range(100).toDF("x").repartition(4))
    val wdir = JPaths.get(store2.root, "c", "t", w.id)
    val part = Using.resource(JFiles.list(wdir))(_.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq).head
    graft.store.TableStore.deleteTree(part)
    val issues2 = store2.fsck(verifyCounts = true)
    assert(issues2.map(_.kind) == Seq("row-mismatch"), issues2)
    assert(store2.fsck().isEmpty) // without count verification: silent

    // pruned-residue: tombstoned version resurrected on disk
    store2.write("c", "t", Seq(9).toDF("x"))
    store2.vacuum("c", "t", keepLast = 1)
    JFiles.createDirectories(JPaths.get(store2.root, "c", "t", w.id))
    val issues3 = store2.fsck()
    assert(issues3.map(_.kind) == Seq("pruned-residue"), issues3)
  }

  test("store: uncommitted transactions are invisible") {
    val store = freshStore()
    import spark.implicits._
    store.write("c", "t", Seq(1).toDF("x"))
    val ctx = graft.core.SysCtx.fresh()
    store.stageWrite("c", "t", Seq(2).toDF("x"), ctx) // never committed
    assert(store.versions("c", "t").length == 1)
    assert(store.scan("c/t").get.df.select("x").head().getInt(0) == 1)
    store.commitTransaction(ctx.transaction)
    assert(store.versions("c", "t").length == 2)
  }

  test("flow: publisher -> transformer -> subscriber with trigger propagation") {
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    val outDir = Files.createTempDirectory("graft-sub-out").toString
    var subscriberRuns = 0

    engine.publisher("pub_orders", "sales", Seq("orders_raw")) { ctx =>
      val df = spark.read.parquet(s"$sf/orders.parquet")
      Seq(TableFrame.fromRaw(df))
    }
    engine.transformer("big_orders", "sales", Seq("orders_raw"), Seq("orders_big")) { ctx =>
      Seq(ctx.input(0).filter(td.col("o_totalprice") > 200000.0))
    }
    engine.subscriber("sub_out", "sales", Seq("orders_big")) { ctx =>
      subscriberRuns += 1
      FileSink(s"$outDir/run$subscriberRuns", "parquet").write(
        ctx.input(0).selectCols("o_orderkey", "o_totalprice").df)
      Seq.empty
    }

    val ran = engine.trigger("pub_orders")
    assert(ran == Seq("pub_orders", "big_orders", "sub_out"))
    assert(subscriberRuns == 1)
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(F.col("o_totalprice") > 200000.0).count()
    assert(store.scan("sales/orders_big").get.count() == expected)
    assert(spark.read.parquet(s"$outDir/run1").count() == expected)
    // second trigger: new versions everywhere, HEAD^ still the old one
    engine.trigger("pub_orders")
    assert(store.versions("sales", "orders_big").length == 2)
    assert(store.scan("sales/orders_big@HEAD^").get.count() == expected)
  }

  test("flow: trigger_by subsets stop propagation") {
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    engine.publisher("pub_a", "c", Seq("a")) { _ => Seq(TableFrame.fromRaw(Seq(1).toDF("x"))) }
    engine.publisher("pub_b", "c", Seq("b")) { _ => Seq(TableFrame.fromRaw(Seq(2).toDF("x"))) }
    // depends on a+b but only b triggers it (reference: trigger_by subset)
    engine.transformer("join_ab", "c", Seq("a", "b"), Seq("ab"),
        triggerBy = Some(Seq("b"))) { ctx =>
      Seq(TableFrame.concat(Seq(
        ctx.input(0).selectCols("x"), ctx.input(1).selectCols("x")), "vertical"))
    }
    assert(engine.trigger("pub_a") == Seq("pub_a")) // no propagation via a
    assert(engine.trigger("pub_b") == Seq("pub_b", "join_ab"))
    assert(store.scan("c/ab").get.count() == 2)
  }

  test("flow: a join after paths of unequal length reads this execution's outputs") {
    // A→B→D and A→C→X→D: D must wait for X, not run on X's previous output
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    var gen = 0
    val seen = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    def g(tf: TableFrame): Int = tf.df.select("g").head().getInt(0)
    engine.publisher("A", "c", Seq("a")) { _ =>
      gen += 1
      Seq(TableFrame.fromRaw(Seq(gen).toDF("g")))
    }
    engine.transformer("B", "c", Seq("a"), Seq("b")) { ctx => Seq(ctx.input(0)) }
    engine.transformer("C", "c", Seq("a"), Seq("cc")) { ctx => Seq(ctx.input(0)) }
    engine.transformer("D", "c", Seq("b", "x"), Seq("d")) { ctx =>
      seen += ((g(ctx.input(0)), g(ctx.input(1))))
      Seq(ctx.input(1))
    }
    engine.transformer("X", "c", Seq("cc"), Seq("x")) { ctx => Seq(ctx.input(0)) }
    assert(engine.trigger("A") == Seq("A", "B", "C", "X", "D"))
    assert(engine.trigger("A") == Seq("A", "B", "C", "X", "D"))
    assert(seen.toSeq == Seq((1, 1), (2, 2)))
    assert(store.versions("c", "d").size == 2)
  }

  test("flow: a dependency cycle in the plan fails before any run") {
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    engine.publisher("P", "c", Seq("p")) { _ => Seq(TableFrame.fromRaw(Seq(1).toDF("v"))) }
    // Q reads R's output, and R is triggered by Q's
    engine.transformer("Q", "c", Seq("p", "r"), Seq("q"),
      triggerBy = Some(Seq("p"))) { ctx => Seq(ctx.input(0)) }
    engine.transformer("R", "c", Seq("q"), Seq("r")) { ctx => Seq(ctx.input(0)) }
    val err = intercept[IllegalArgumentException](engine.trigger("P"))
    assert(err.getMessage.contains("cycle") &&
      err.getMessage.contains("Q, R"), err.getMessage)
    assert(store.versions("c", "p").isEmpty, "nothing ran")
  }

  /** Counts down `both` and waits (bounded) for the other run to do the
    * same: true when the two runs were in flight together. */
  private def meet(both: java.util.concurrent.CountDownLatch): Boolean = {
    both.countDown()
    both.await(20, java.util.concurrent.TimeUnit.SECONDS)
  }

  test("flow: independent functions of a plan overlap, the join reads both outputs") {
    // P → A, P → B, (A, B) → S: A and B wait for each other, so sequential
    // runs fail on the bounded wait instead of hanging
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    store.write("c", "a", Seq(0).toDF("g"))
    store.write("c", "b", Seq(0).toDF("g"))
    val both = new java.util.concurrent.CountDownLatch(2)
    val met = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    var seen = (0, 0)
    def g(tf: TableFrame): Int = tf.df.select("g").head().getInt(0)
    engine.publisher("P", "c", Seq("p")) { _ => Seq(TableFrame.fromRaw(Seq(1).toDF("g"))) }
    Seq("A" -> "a", "B" -> "b").foreach { case (name, out) =>
      engine.transformer(name, "c", Seq("p"), Seq(out)) { ctx =>
        met.put(name, meet(both))
        Seq(ctx.input(0))
      }
    }
    engine.subscriber("S", "c", Seq("a", "b")) { ctx =>
      seen = (g(ctx.input(0)), g(ctx.input(1)))
      Nil
    }
    assert(engine.trigger("P") == Seq("P", "A", "B", "S"))
    assert(met.get("A") && met.get("B"), s"runs in flight together: $met")
    assert(seen == ((1, 1)), "S read this execution's output of both")
    // the journal alone shows the overlap
    val runs = graft.flow.ExecutionLog.read(store.root).map(r => r.function -> r).toMap
    val (a, b) = (runs("A"), runs("B"))
    assert(a.startedOn.get < b.startedOn.get + b.durationMs &&
      b.startedOn.get < a.startedOn.get + a.durationMs, s"$a $b")
  }

  test("flow: a chain runs every function on the calling thread") {
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    def record(tf: TableFrame): Seq[TableFrame] = { threads.add(Thread.currentThread); Seq(tf) }
    engine.publisher("P", "c", Seq("p"))(_ => record(TableFrame.fromRaw(Seq(1).toDF("g"))))
    engine.transformer("T", "c", Seq("p"), Seq("t"))(ctx => record(ctx.input(0)))
    engine.transformer("U", "c", Seq("t"), Seq("u"))(ctx => record(ctx.input(0)))
    engine.subscriber("S", "c", Seq("u")) { ctx => record(ctx.input(0)); Nil }
    assert(engine.trigger("P") == Seq("P", "T", "U", "S"))
    assert(threads.asScala.toSet == Set(Thread.currentThread))
  }

  test("flow: two writers of one table in a plan never overlap, HEAD is the later") {
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger
    engine.publisher("P", "c", Seq("p")) { _ => Seq(TableFrame.fromRaw(Seq(1).toDF("g"))) }
    Seq("W1", "W2").foreach { name =>
      engine.transformer(name, "c", Seq("p"), Seq("t")) { _ =>
        maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        try { Thread.sleep(300); Seq(TableFrame.fromRaw(Seq(name).toDF("w"))) }
        finally inFlight.decrementAndGet()
      }
    }
    assert(engine.trigger("P") == Seq("P", "W1", "W2"))
    assert(maxInFlight.get == 1, s"${maxInFlight.get} writers of c/t in flight at once")
    assert(store.versions("c", "t").size == 2)
    assert(store.scan("c/t").get.df.select("w").as[String].collect().toSeq == Seq("W2"))
    assert(store.scan("c/t@HEAD^").get.df.select("w").as[String].collect().toSeq == Seq("W1"))
  }

  test("flow: a failure while runs overlap — the sibling commits, nothing new starts") {
    // P → A, P → B, (A, B) → S; A's output fails at write time while B is
    // in flight
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    val boom = F.udf(() => { throw new IllegalStateException("boom-A"); 1 })
    var fail = false
    var both = new java.util.concurrent.CountDownLatch(2)
    var subscriberRuns = 0
    engine.publisher("P", "c", Seq("p")) { _ => Seq(TableFrame.fromRaw(Seq(1).toDF("g"))) }
    engine.transformer("A", "c", Seq("p"), Seq("a")) { ctx =>
      meet(both)
      ctx.setOffset("cursor", if (fail) "advanced" else "1")
      Seq(if (fail) TableFrame.fromRaw(spark.range(1).select(boom().as("g")))
          else ctx.input(0))
    }
    engine.transformer("B", "c", Seq("p"), Seq("b")) { ctx =>
      meet(both)
      Seq(ctx.input(0))
    }
    engine.subscriber("S", "c", Seq("a", "b")) { _ => subscriberRuns += 1; Nil }
    engine.trigger("P")
    assert(subscriberRuns == 1)
    fail = true
    both = new java.util.concurrent.CountDownLatch(2)
    val err = intercept[Exception](engine.trigger("P"))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("boom-A"))), err)
    assert(subscriberRuns == 1, "the downstream subscriber never ran")
    assert(store.versions("c", "b").size == 2, "the sibling's version committed")
    assert(store.scan("c/b").get.df.count() == 1)
    assert(store.versions("c", "a").size == 1)
    val staging = java.nio.file.Paths.get(store.root, "c", "a", ".staging")
    assert(!Files.exists(staging) || Files.list(staging).count() == 0)
    assert(graft.flow.Offsets.load(store.root, "A") == Map("cursor" -> "1"))
    val journal = graft.flow.ExecutionLog.read(store.root)
    val failedExecution = journal.filter(_.execution == journal.last.execution)
    assert(failedExecution.map(r => r.function -> r.status).toSet ==
      Set("P" -> "done", "A" -> "failed", "B" -> "done"), failedExecution)
    assert(failedExecution.size == 3)
  }

  test("flow: helper runs carry the caller's job group and leak nothing back") {
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    val sc = spark.sparkContext
    val group = s"flow-${java.util.UUID.randomUUID()}"
    val end = s"$group-end"
    val caller = Thread.currentThread
    // job group of every job a helper run started, keyed by that run
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        props.flatMap(p => Option(p.getProperty("graft.test.run"))).foreach(r => jobs.add(r -> g))
        if (g == end) ended.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      val both = new java.util.concurrent.CountDownLatch(2)
      val helped = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      engine.publisher("P", "c", Seq("p")) { _ =>
        sc.setJobGroup(group, "flow test", interruptOnCancel = false)
        Seq(TableFrame.fromRaw(Seq(1).toDF("g")))
      }
      Seq("A" -> "a", "B" -> "b").foreach { case (name, out) =>
        engine.transformer(name, "c", Seq("p"), Seq(out)) { ctx =>
          if (Thread.currentThread != caller) {
            helped.add(name)
            sc.setLocalProperty("graft.test.run", name)
          }
          assert(meet(both))
          assert(ctx.input(0).df.count() == 1)
          Seq(ctx.input(0))
        }
      }
      assert(engine.trigger("P") == Seq("P", "A", "B"))
      assert(helped.asScala.toSeq == Seq("B"))
      assert(sc.getLocalProperty("graft.test.run") == null, "helper property leaked")
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      // the listener bus delivers in order: once this job is seen, so are B's
      sc.setJobGroup(end, "flow test end", interruptOnCancel = false)
      spark.range(1).count()
      assert(ended.await(20, java.util.concurrent.TimeUnit.SECONDS))
      val ofB = jobs.asScala.toSeq.filter(_._1 == "B")
      assert(ofB.size >= 2, "B's count and its staged write") // count + write
      assert(ofB.forall(_._2 == group), ofB)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("execution journal: concurrent appends stay whole, old lines without started_on read") {
    import graft.flow.{ExecutionLog, ExecutionRecord}
    val root = Files.createTempDirectory("graft-journal").toString
    val log = java.nio.file.Paths.get(root, "_executions", "log.jsonl")
    Files.createDirectories(log.getParent)
    Files.writeString(log, """{"execution":"e0","function":"f","collection":"c",""" +
      """"status":"done","triggered_on":5,"duration_ms":7}""" + "\n")
    val err = "x" * 20000 // longer than one buffered write
    val threads = (0 until 8).map { i =>
      new Thread(() => (0 until 50).foreach { j =>
        ExecutionLog.append(root, ExecutionRecord(s"e$i", s"f$j", "c", "failed", 1L, 2L,
          Some(err), Some(3L)))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val rs = ExecutionLog.read(root)
    assert(rs.head == ExecutionRecord("e0", "f", "c", "done", 5L, 7L, None, None))
    assert(rs.size == 1 + 8 * 50)
    assert(rs.tail.forall(r => r.error.contains(err) && r.startedOn.contains(3L)))
  }

  test("execution journal: a re-created journal and another engine's runs read back") {
    import graft.flow.{ExecutionLog, ExecutionRecord}
    import spark.implicits._
    val store = freshStore()
    val log = java.nio.file.Paths.get(store.root, "_executions", "log.jsonl")
    val old = Seq("f", "g").map(ExecutionRecord("e1", _, "c", "done", 5L, 7L, None, Some(6L)))
    old.foreach(ExecutionLog.append(store.root, _))
    assert(ExecutionLog.read(store.root) == old)
    Files.delete(log)
    assert(ExecutionLog.read(store.root).isEmpty)
    val fresh = ExecutionRecord("e2", "h", "c", "failed", 8L, 9L, Some("boom"), Some(8L))
    ExecutionLog.append(store.root, fresh)
    assert(ExecutionLog.read(store.root) == Seq(fresh))
    // a second engine (its own store instance) on the same root
    val engine = new FlowEngine(new TableStore(store.root, spark), spark)
    engine.publisher("p", "c", Seq("t")) { _ => Seq(TableFrame.fromRaw(Seq(1).toDF("x"))) }
    engine.trigger("p")
    val rs = ExecutionLog.read(store.root)
    assert(rs.head == fresh)
    assert(rs.tail.map(r => (r.function, r.status)) == Seq(("p", "done")))
  }

  test("flow: offsets persist between runs (incremental publisher)") {
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    engine.publisher("incr", "c", Seq("t")) { ctx =>
      val last = ctx.offsets.getOrElse("cursor", "0")
      seen += last
      ctx.setOffset("cursor", (last.toInt + 10).toString)
      Seq(TableFrame.fromRaw(Seq(last.toInt).toDF("from_cursor")))
    }
    engine.trigger("incr"); engine.trigger("incr"); engine.trigger("incr")
    assert(seen.toSeq == Seq("0", "10", "20"))
  }

  test("flow: concurrent triggers of one publisher run one at a time") {
    // two overlapping triggers of one incremental publisher: each run must
    // see the offset the other saved, never both the same one
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger
    engine.publisher("incr", "c", Seq("t")) { ctx =>
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try {
        val n = ctx.offsets.getOrElse("n", "0").toInt
        Thread.sleep(300)
        ctx.setOffset("n", (n + 1).toString)
        Seq(TableFrame.fromRaw(Seq(n).toDF("n")))
      } finally inFlight.decrementAndGet()
    }
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() =>
        try { start.await(); engine.trigger("incr") }
        catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    assert(maxInFlight.get == 1, s"${maxInFlight.get} runs in flight at once")
    assert(graft.flow.Offsets.load(store.root, "incr") == Map("n" -> "2"))
    val published = store.scan("c/t@INITIAL..HEAD").get.df
      .select("n").as[Int].collect().sorted.toSeq
    assert(published == Seq(0, 1))
  }

  test("flow: registering races triggers — every function listed, no trigger throws") {
    // 8 threads register 500 functions each while another thread keeps
    // triggering a publisher, whose plan scans the registry for dependents
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    engine.publisher("pub", "c", Seq("t")) { _ =>
      Seq(TableFrame.fromRaw(Seq(1).toDF("x")))
    }
    val start = new java.util.concurrent.CountDownLatch(1)
    val registering = new java.util.concurrent.CountDownLatch(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val triggers = new java.util.concurrent.atomic.AtomicInteger
    val trigger = new Thread(() =>
      try {
        start.await()
        while (registering.getCount > 0 || triggers.get == 0) {
          engine.trigger("pub")
          triggers.incrementAndGet()
        }
      } catch { case e: Throwable => errors.add(e) })
    val registrars = (0 until 8).map { i =>
      new Thread(() =>
        try {
          start.await()
          (0 until 500).foreach { j =>
            engine.subscriber(s"s_${i}_$j", "reg", Seq("in"))(_ => Nil)
          }
        } catch { case e: Throwable => errors.add(e) }
        finally registering.countDown())
    }
    val all = trigger +: registrars
    all.foreach(_.start())
    start.countDown()
    all.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    assert(triggers.get >= 1)
    val listed = engine.functionsIn("reg").map(_.name)
    val nListed = listed.size
    assert(nListed == 4000)
    assert(listed.toSet ==
      (for (i <- 0 until 8; j <- 0 until 500) yield s"s_${i}_$j").toSet)
  }

  test("flow: nightly ingest — exact + near-dup dedup against the stored corpus") {
    // the continuous-ingest composition: each night's batch is deduped
    // against the CURRENT stored corpus (exact via md5 anti-join, near-dup
    // via the MinHash band index built from the store) and only survivors
    // append — corpus versions grow monotonically, dups never land
    import spark.implicits._
    import graft.pipeline.Dedup
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    var batch: Seq[(Long, String)] = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely original second document about spark planning"))
    engine.publisher("land", "c", Seq("staged")) { _ =>
      Seq(TableFrame.fromRaw(batch.toDF("doc_id", "text")))
    }
    engine.transformer("curate", "c", Seq("staged"), Seq("corpus")) { ctx =>
      val staged = ctx.input(0).df.select("doc_id", "text")
      val history = store.scan("c/corpus").map(_.df.select("doc_id", "text"))
        .getOrElse(staged.limit(0))
      val exactNew = Dedup.incrementalNew(history, staged, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
      val fresh = staged.join(exactNew, Seq("doc_id"), "left_semi")
      val nearDup =
        if (history.isEmpty) fresh.limit(0).select(F.col("doc_id"))
        else Dedup.incrementalNearDupPairs(
          Dedup.minhashBandIndex(history, "text", "doc_id"),
          history, fresh, "text", "doc_id", threshold = 0.6)
          .select(F.col("batch_id").as("doc_id")).distinct()
      val survivors = fresh.join(nearDup, Seq("doc_id"), "left_anti")
      Seq(TableFrame.fromRaw(history.unionByName(survivors)))
    }
    engine.trigger("land") // night 1: empty history, both docs land
    assert(store.scan("c/corpus").get.df.count() == 2)
    batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
      (11L, "completely original second document about spark planning"), // exact dup of 2
      (12L, "a genuinely novel third document mentioning nothing prior"))
    engine.trigger("land") // night 2: only the novel doc survives
    val ids = store.scan("c/corpus").get.df
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 12L))
    // the corpus table carries one committed version per night
    assert(store.versions("c", "corpus").size == 2)
  }

  test("flow: offsets freeze when a run fails (initial_values_freeze)") {
    // reference test_initial_values_freeze: a failing run must not advance
    // the persisted offsets, so the retry re-reads the same increment
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    var boom = false
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    engine.publisher("p", "c", Seq("t")) { ctx =>
      val cur = ctx.offsets.getOrElse("cursor", "0")
      seen += cur
      if (boom) throw new RuntimeException("upstream down")
      ctx.setOffset("cursor", (cur.toInt + 1).toString)
      Seq(TableFrame.fromRaw(Seq(cur.toInt).toDF("v")))
    }
    engine.trigger("p")                                   // cursor 0 → 1
    boom = true
    intercept[RuntimeException](engine.trigger("p"))      // fails at cursor 1
    boom = false
    engine.trigger("p")                                   // retries cursor 1
    assert(seen.toSeq == Seq("0", "1", "1"))
    // the failed run also published no version
    assert(store.versions("c", "t").size == 2)
  }

  test("failed run aborts its transaction: staged dirs removed, no version visible") {
    val store = freshStore()
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    // second output's frame fails at write time (exploding UDF), AFTER the
    // first output has already staged
    val boom = F.udf(() => {
      throw new RuntimeException("boom"); 1
    })
    engine.publisher("p", "c", Seq("good", "bad")) { _ =>
      Seq(
        TableFrame.fromRaw(Seq(1).toDF("v")),
        TableFrame.fromRaw(spark.range(1).select(boom().as("v"))))
    }
    intercept[Exception](engine.trigger("p"))
    // nothing visible, nothing staged on disk — including the half-written
    // dir of the output whose write itself failed
    assert(store.scan("c/good").isEmpty && store.scan("c/bad").isEmpty)
    Seq("good", "bad").foreach { t =>
      val staging = java.nio.file.Paths.get(store.root, "c", t, ".staging")
      assert(!Files.exists(staging) || Files.list(staging).count() == 0, t)
    }
    // and a later successful run proceeds normally
    engine.register(graft.flow.FlowFunction("p2", "c", graft.flow.Role.Publisher,
      Nil, Seq("good"), None,
      _ => Seq(TableFrame.fromRaw(Seq(3).toDF("v")))))
    engine.trigger("p2")
    assert(store.scan("c/good").get.df.count() == 1)
  }

  test("offsets round-trip values carrying quotes/backslashes") {
    val root = Files.createTempDirectory("graft-off").toString
    val offs = Map("cursor" -> """he said "42\"""", "wm" -> "2026-01-01T00:00:00Z")
    graft.flow.Offsets.save(root, "fn1", offs)
    assert(graft.flow.Offsets.load(root, "fn1") == offs)
  }

  test("version log round-trips entries whose strings carry quotes/backslashes") {
    val store = freshStore()
    val e = VersionEntry(
      id = """v"1\x""", execution = """e\"q""", transaction = "t1",
      timestampMs = 1234L, schemaHash = """h"h""", rows = 7L,
      schemaB64 = Some("""b64"with\"quotes"""))
    assert(store.parseEntry(store.renderEntry(e)) == e)
    // plain entries from the pre-Jackson writer still parse
    val legacy = """{"id":"v1","execution":"e1","transaction":"t1","ts":99,"schemaHash":"ab","rows":3}"""
    assert(store.parseEntry(legacy) ==
      VersionEntry("v1", "e1", "t1", 99L, "ab", 3L, None))
    intercept[IllegalStateException](store.parseEntry("""{"id":"v1"}"""))
    intercept[IllegalStateException](store.parseEntry("not json"))
  }

  test("file source watermark: file landing during a run is not lost") {
    // run 1 reads A; B lands "during" run 1 (its mtime is after A's but
    // before run 1 finished). A now()-stamped watermark would exclude B
    // from run 2's modifiedAfter listing; the observed-max-mtime watermark
    // picks it up.
    val dir = Files.createTempDirectory("graft-wm")
    val a = dir.resolve("a.csv"); val b = dir.resolve("b.csv")
    Files.writeString(a, "id\n1\n")
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    Files.setLastModifiedTime(a, java.nio.file.attribute.FileTime.from(t0))
    val src = FileSource(s"$dir/*.csv", "csv")

    val run1 = src.load(spark, Map.empty)
    assert(run1.head.count() == 1)
    val off1 = src.nextOffsets(run1)
    // watermark is A's mtime, not wall-clock now
    assert(off1("last_modified") == t0.toString)

    // B lands with an mtime 2s after A (still far in the "past" vs now())
    Files.writeString(b, "id\n2\n")
    Files.setLastModifiedTime(b, java.nio.file.attribute.FileTime.from(t0.plusSeconds(2)))
    val run2 = src.load(spark, off1)
    val ids = run2.head.select("id").collect().map(_.getInt(0)).toSet
    assert(ids == Set(2), s"run 2 must see exactly the late file, got $ids")
    // and the watermark advances to B's mtime
    assert(src.nextOffsets(run2)("last_modified") == t0.plusSeconds(2).toString)

    // nothing new → no frames at all (not a schema-inference crash), and
    // no watermark advance (empty map keeps the old offset)
    val run3 = src.load(spark, src.nextOffsets(run2))
    assert(run3.isEmpty)
    assert(src.nextOffsets(run3).isEmpty)
  }

  test("file source watermark: in-place rewrite under a directory pattern is seen") {
    // the incremental guard must compare FILE mtimes: rewriting a.csv in
    // place does not bump the parent dir's mtime, and a directory pattern
    // matches the dir, not its files
    val dir = Files.createTempDirectory("graft-wm2")
    val sub = dir.resolve("data"); Files.createDirectory(sub)
    val t0 = java.time.Instant.parse("2026-02-01T00:00:00Z")
    Files.writeString(sub.resolve("a.csv"), "id\n1\n")
    Files.setLastModifiedTime(sub.resolve("a.csv"),
      java.nio.file.attribute.FileTime.from(t0))
    Files.setLastModifiedTime(sub, java.nio.file.attribute.FileTime.from(t0))
    val src = FileSource(sub.toString, "csv") // directory pattern, no glob
    val run1 = src.load(spark, Map.empty)
    val off1 = src.nextOffsets(run1)
    assert(off1("last_modified") == t0.toString)
    // rewrite the same file with newer content/mtime; pin the DIR mtime
    // back to t0 to model the no-bump case
    Files.writeString(sub.resolve("a.csv"), "id\n1\n2\n")
    Files.setLastModifiedTime(sub.resolve("a.csv"),
      java.nio.file.attribute.FileTime.from(t0.plusSeconds(5)))
    Files.setLastModifiedTime(sub, java.nio.file.attribute.FileTime.from(t0))
    val run2 = src.load(spark, off1)
    assert(run2.nonEmpty, "rewritten file must be seen by the incremental guard")
    assert(run2.head.count() == 2)
  }

  test("file source: csv round-trip with inference and glob") {
    val dir = Files.createTempDirectory("graft-csv")
    Files.writeString(dir.resolve("part1.csv"), "id,name\n1,alpha\n2,beta\n")
    Files.writeString(dir.resolve("part2.csv"), "id,name\n3,gamma\n")
    val tfs = Sources.loadRaw(FileSource(s"$dir/part*.csv", "csv"), spark)
    assert(tfs.length == 2) // wildcard binds a list: one frame per file
    assert(tfs.map(_.count()).sorted == Seq(1L, 2L))
    val tf = tfs.head
    assert(tf.df.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(tf.columns("system").nonEmpty) // raw wrap stamped fresh ids
  }

  test("vacuumOlderThan: age-based retention always keeps the newest lineage") {
    import spark.implicits._
    val store = freshStore()
    val ids = (1 to 4).map(i => store.write("c", "t", Seq(i).toDF("x")).id)
    val vs = store.versions("c", "t")
    // cutoff strictly after v2's stamp: v1 and v2 are "old", but keepLast=2
    // shields v3/v4 regardless of age
    val cutoff = vs(1).timestampMs + 1
    val pruned = store.vacuumOlderThan("c", "t", cutoff, keepLast = 2)
    assert(pruned == ids.take(2), pruned)
    assert(store.versions("c", "t").map(_.id) == ids.drop(2))
    // a far-future cutoff still cannot take the protected tail
    assert(store.vacuumOlderThan("c", "t", Long.MaxValue, keepLast = 2).isEmpty)
    // nothing old enough: no-op
    assert(store.vacuumOlderThan("c", "t", 0L, keepLast = 1).isEmpty)
  }

  test("schemaDiff: added/removed/retyped from the version log alone") {
    import graft.store.VersionDiff
    import spark.implicits._
    val store = freshStore()
    store.write("c", "t", Seq((1, "a", 0.5)).toDF("x", "label", "score"))
    store.write("c", "t", Seq((1L, "a", true)).toDF("x", "keep", "flag")
      .select(F.col("x"), F.col("keep"), F.col("flag")))
    val got = VersionDiff.schemaDiff(store, "c/t@HEAD~1", "c/t@HEAD")
    assert(got == Seq(
      VersionDiff.SchemaChange("x", "retyped", Some("INT"), Some("BIGINT")),
      VersionDiff.SchemaChange("label", "removed", Some("STRING"), None),
      VersionDiff.SchemaChange("score", "removed", Some("DOUBLE"), None),
      VersionDiff.SchemaChange("keep", "added", None, Some("STRING")),
      VersionDiff.SchemaChange("flag", "added", None, Some("BOOLEAN"))), got)
    // identical schemas: empty drift
    assert(VersionDiff.schemaDiff(store, "c/t@HEAD", "c/t@HEAD").isEmpty)
    intercept[IllegalArgumentException](
      VersionDiff.schemaDiff(store, "c/none@HEAD", "c/t@HEAD"))
  }

  test("restore: metadata-only rollback, selectors shift, vacuum keeps referenced data") {
    import spark.implicits._
    val store = freshStore()
    def v(n: Int) = (1L to 10L).map(i => (i, s"gen$n-$i")).toDF("id", "v")
    val e1 = store.write("c", "t", v(1))
    store.write("c", "t", v(2))
    store.write("c", "t", v(3))
    def headVals() = store.scan("c/t").get.df.select("v")
      .collect().map(_.getString(0)).toSet
    assert(headVals() == (1L to 10L).map(i => s"gen3-$i").toSet)
    // restore to the first publish: HEAD now reads v1's bytes, the
    // mistaken publishes shift to HEAD~1 / HEAD~2
    val r = store.restore("c", "t", "HEAD~2").get
    assert(r.dataOf.contains(e1.id) && r.rows == e1.rows)
    assert(headVals() == (1L to 10L).map(i => s"gen1-$i").toSet)
    assert(store.scan("c/t@HEAD~1").get.df.select("v")
      .collect().map(_.getString(0)).toSet ==
      (1L to 10L).map(i => s"gen3-$i").toSet)
    // restoring what HEAD already reads is a no-op...
    assert(store.restore("c", "t", "HEAD").isEmpty)
    // ...including through the indirection (restore of the restore)
    assert(store.restore("c", "t", e1.id).isEmpty)
    // a restore OF a restore chases to the original writer: no chains
    store.write("c", "t", v(4))
    val r2 = store.restore("c", "t", "HEAD~1").get // the restore entry
    assert(r2.dataOf.contains(e1.id))
    // vacuum prunes the source id but its data dir survives while the
    // restored HEAD references it; the pruned id stops resolving
    val pruned = store.vacuum("c", "t", keepLast = 1)
    assert(pruned.contains(e1.id))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(store.root, "c", "t", e1.id)))
    assert(scala.util.Try(store.scan(s"c/t@${e1.id}"))
      .toOption.flatten.isEmpty)
    assert(headVals() == (1L to 10L).map(i => s"gen1-$i").toSet)
    // fsck sees a healthy table through the indirection
    assert(store.fsck(verifyCounts = true).isEmpty)
    // a bad target fails loudly
    intercept[IllegalArgumentException](store.restore("c", "t", "HEAD~9"))
  }

  test("restore: concurrent restores of a wide table keep its log readable") {
    val store = freshStore()
    val wide = spark.range(3).select((0 until 120).map(i => (F.col("id") + i).as(s"c$i")): _*)
    store.write("c", "t", wide)
    store.write("c", "t", wide)
    // the staged schema makes each log line longer than one buffered write
    val log = java.nio.file.Paths.get(store.root, "c", "t", "_log.jsonl")
    assert(Files.readAllLines(log).get(0).length > 8192)
    val restored = new java.util.concurrent.atomic.AtomicInteger
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { _ =>
      val t = new Thread(() => (0 until 25).foreach { _ =>
        try { if (store.restore("c", "t", "HEAD~1").isDefined) restored.incrementAndGet() }
        catch { case e: Throwable => errors.add(e) }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    assert(errors.isEmpty,
      s"${errors.size} restores threw, first: ${String.valueOf(errors.peek()).take(120)}")
    assert(new TableStore(store.root, spark).versions("c", "t").size == 2 + restored.get)
  }

  test("compact: fewer files, verbatim rows, old layout addressable, loud guards") {
    import spark.implicits._
    val store = freshStore()
    val df = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v").repartition(16)
    store.write("c", "t", df)
    import scala.jdk.CollectionConverters._
    def files(): Int = {
      val e = store.versions("c", "t").last
      scala.util.Using.resource(java.nio.file.Files.list(
          java.nio.file.Paths.get(store.pathOf("c", "t", e))))(
        _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
    }
    val before = files()
    assert(before > 1, s"expected a multi-file layout, got $before")
    val pre = store.scan("c/t").get.df.collect().map(_.toString).sorted.toSeq

    val ne = store.compact("c", "t", targetBytes = 64L << 20)
    assert(ne.isDefined)
    assert(store.versions("c", "t").size == 2)
    assert(files() == 1)
    // rows verbatim, including the ORIGINAL system-column stamps
    val post = store.scan("c/t@HEAD").get.df.collect().map(_.toString).sorted.toSeq
    assert(post == pre)
    // the pre-compaction layout is still addressable
    val old = store.scan("c/t@HEAD~1").get.df.collect().map(_.toString).sorted.toSeq
    assert(old == pre)
    // already within budget: no-op
    assert(store.compact("c", "t", targetBytes = 64L << 20).isEmpty)
    assert(store.versions("c", "t").size == 2)
    // hive-partitioned versions are refused loudly
    val store2 = freshStore()
    val pdf = (1L to 100L).map(i => (i, i % 4, s"v$i")).toDF("id", "p", "v")
    val ctx = graft.core.SysCtx.fresh().copy(version = store2.newId())
    store2.stageWrite("c", "pt", pdf, ctx, partitionBy = Seq("p"))
    store2.commitTransaction(ctx.transaction)
    val ex = intercept[IllegalArgumentException] {
      store2.compact("c", "pt")
    }
    assert(ex.getMessage.contains("partition"), ex.getMessage)
  }

  test("compact: a row-count mismatch aborts before commit and leaves nothing staged or logged") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val store = freshStore()
    store.write("c", "t", (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v").repartition(16))
    val head = store.versions("c", "t").last
    val dir = java.nio.file.Paths.get(store.pathOf("c", "t", head))
    val tableDir = dir.getParent
    // lose one data file, so the rewrite sees fewer rows than the entry
    val part = scala.util.Using.resource(java.nio.file.Files.list(dir))(
      _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get)
    java.nio.file.Files.delete(part)
    def logLines() = java.nio.file.Files.readAllLines(tableDir.resolve("_log.jsonl")).size
    val linesBefore = logLines()
    val ex = intercept[IllegalStateException](store.compact("c", "t", targetBytes = 64L << 20))
    assert(ex.getMessage.contains("row mismatch"), ex.getMessage)
    val staging = tableDir.resolve(".staging")
    assert(!java.nio.file.Files.exists(staging) ||
      scala.util.Using.resource(java.nio.file.Files.list(staging))(_.count()) == 0)
    assert(logLines() == linesBefore)
    assert(store.versions("c", "t").map(_.id) == Seq(head.id))
  }

  /** Every file under `dir`, relative to it, sorted. */
  private def filesUnder(dir: java.nio.file.Path): Seq[String] =
    scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => dir.relativize(p).toString).toVector.sorted)

  /** The part files under `dir`, keyed by partition dir and split
    * (`p=1/part-00000`), whatever uuid names them. */
  private def partsBySplit(dir: java.nio.file.Path): Map[String, Array[Byte]] =
    filesUnder(dir).filter(_.endsWith(".parquet")).map { f =>
      val i = f.lastIndexOf("part-")
      f.substring(0, i + 10) -> Files.readAllBytes(dir.resolve(f))
    }.toMap

  test("stage: an unpartitioned write is one job of small tasks, published by the move alone") {
    import org.apache.spark.scheduler._
    import org.apache.spark.storage.BroadcastBlockId
    import spark.implicits._
    val sc = spark.sparkContext
    val group = s"storeflow-stage-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    // the serialized (rdd, func) closure Spark broadcasts for each stage of
    // this thread's jobs, as stored (compressed) in broadcast pieces
    val binaries = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var open = 0
      private def groupOf(e: SparkListenerJobStart) =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      private val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e) match {
        case Some(`group`) => jobs.incrementAndGet(); mine.add(e.jobId); open += 1
        case Some(`marker`) => mine.add(-e.jobId - 1)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        if (mine.contains(e.jobId)) open -= 1
        if (mine.contains(-e.jobId - 1)) markerDone.countDown()
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case b: BroadcastBlockId if open > 0 && b.field.startsWith("piece") =>
            binaries.add(e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize)
          case _ =>
        }
    }
    val store = freshStore()
    val df = (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v")
    sc.addSparkListener(listener)
    val e = try {
      sc.setJobGroup(group, "stageWrite under test")
      val ctx = graft.core.SysCtx.fresh()
      val staged = store.stageWrite("c", "t", df, ctx)
      sc.setJobGroup(marker, "listener marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      store.commitTransaction(ctx.transaction)
      staged
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 1, s"jobs: ${jobs.get}")
    val largest = binaries.asScala.maxOption.getOrElse(0L)
    info(s"task binary: $largest bytes")
    assert(binaries.size >= 1 && largest < 16 * 1024,
      s"task binary pieces (bytes): ${binaries.asScala.mkString(", ")}")
    val dir = java.nio.file.Paths.get(store.pathOf("c", "t", e))
    val files = filesUnder(dir)
    assert(!files.exists(f => f.contains("_SUCCESS") || f.contains("_temporary")), files)
    assert(files.filterNot(_.startsWith(".")).forall(_.endsWith(".parquet")), files)
    assert(e.rows == 2000 && store.scan("c/t").get.df.count() == 2000)
    assert(store.fsck(verifyCounts = true).isEmpty)
  }

  test("stage: an empty frame commits one schema-only part file") {
    import spark.implicits._
    val store = freshStore()
    val e = store.write("c", "t", Seq.empty[(Long, String)].toDF("id", "v"))
    val dir = java.nio.file.Paths.get(store.pathOf("c", "t", e))
    assert(filesUnder(dir).count(_.endsWith(".parquet")) == 1, filesUnder(dir))
    assert(e.rows == 0)
    val back = store.scan("c/t").get.df
    assert(back.count() == 0 && back.columns.take(2).toSeq == Seq("id", "v"))
    assert(spark.read.parquet(dir.toString).columns.toSet == back.columns.toSet)
    assert(store.fsck(verifyCounts = true).isEmpty)
  }

  test("stage: partitionBy keeps hive dirs, typed values and the NULL partition") {
    import spark.implicits._
    val store = freshStore()
    val df = Seq[(Long, Option[Int], String)]((1L, Some(1), "a"), (2L, Some(2), ""),
      (3L, None, "b"), (4L, Some(1), null), (5L, Some(2), "a")).toDF("id", "p", "s")
    val ctx = graft.core.SysCtx.fresh()
    val e = store.stageWrite("c", "t", df, ctx, partitionBy = Seq("p", "s"))
    store.commitTransaction(ctx.transaction)
    val ref = Files.createTempDirectory("graft-stage-ref").resolve("out")
    df.write.partitionBy("p", "s").parquet(ref.toString)
    def dirs(d: java.nio.file.Path) = filesUnder(d).filter(_.endsWith(".parquet"))
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    val dir = java.nio.file.Paths.get(store.pathOf("c", "t", e))
    assert(dirs(dir) == dirs(ref), s"${dirs(dir)} vs ${dirs(ref)}")
    assert(dirs(dir).contains("p=__HIVE_DEFAULT_PARTITION__/s=b"))
    assert(dirs(dir).contains("p=2/s=__HIVE_DEFAULT_PARTITION__"))
    val back = store.scan("c/t").get.df
    assert(back.schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = back.select("id", "p", "s").orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.getString(2)))).toSeq
    assert(rows == Seq((1L, Some(1), Some("a")), (2L, Some(2), None), (3L, None, Some("b")),
      (4L, Some(1), None), (5L, Some(2), Some("a"))), rows)
    assert(e.rows == 5 && store.fsck(verifyCounts = true).isEmpty)
  }

  test("stage: a staged file no committed task reported never reaches the version") {
    import spark.implicits._
    val store = freshStore()
    val v1 = store.write("c", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val tdir = java.nio.file.Paths.get(store.pathOf("c", "t", v1)).getParent
    val part = filesUnder(tdir.resolve(v1.id)).find(_.endsWith(".parquet")).get
    val ctx = graft.core.SysCtx.fresh()
    val stray = tdir.resolve(".staging").resolve(ctx.version).resolve(s"p=9/part-99999-stray.parquet")
    val src = tdir.resolve(v1.id).resolve(part).toString
    val strayPath = stray.toString
    // a task that leaves a whole parquet file in the staging dir, as a
    // failed or duplicate attempt would
    val leave = F.udf { (id: Long) =>
      if (id == 3L) {
        Files.createDirectories(java.nio.file.Paths.get(strayPath).getParent)
        Files.copy(java.nio.file.Paths.get(src), java.nio.file.Paths.get(strayPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      id
    }
    val df = spark.range(3L, 5L).select(leave(F.col("id")).as("id"),
      F.concat(F.lit("v"), F.col("id")).as("v"))
    val e = store.stageWrite("c", "t", df, ctx)
    store.commitTransaction(ctx.transaction)
    val dir = tdir.resolve(e.id)
    assert(!filesUnder(dir).exists(_.contains("stray")) && !Files.exists(dir.resolve("p=9")),
      filesUnder(dir))
    assert(store.scan("c/t").get.df.count() == 2 && e.rows == 2)
    assert(store.fsck(verifyCounts = true).isEmpty)
  }

  test("stage: part files are byte-identical to df.write.parquet's") {
    import org.apache.spark.sql.graftshim.Bridge
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, s"v$i", if (i % 7 == 0) None else Some(i * 0.5),
      (i % 3).toInt)).toDF("id", "v", "x", "p").coalesce(2)
    for (partitionBy <- Seq(Nil, Seq("p"))) {
      val ours = Files.createTempDirectory("graft-stage-ours")
      val theirs = Files.createTempDirectory("graft-stage-theirs").resolve("out")
      val written = Bridge.writeParquet(df, ours.toString, partitionBy)
      df.write.partitionBy(partitionBy: _*).parquet(theirs.toString)
      val (a, b) = (partsBySplit(ours), partsBySplit(theirs))
      assert(written.rows == 300 && written.files.size == a.size)
      assert(a.keySet == b.keySet && a.size >= 2, s"${a.keySet} vs ${b.keySet}")
      a.foreach { case (k, bytes) => assert(bytes.sameElements(b(k)), s"$k ($partitionBy)") }
    }
  }

  test("version history: runs split on change, absence, and reappearance") {
    import graft.store.VersionDiff
    import spark.implicits._
    // key 1: constant through all three -> one current run [1,3]
    // key 2: value flips in v2, back in v3 -> three runs (flip-back is a NEW run)
    // key 3: absent in v2, same value back in v3 -> two runs [1,1], [3,3]
    // key 4: appears in v3 only -> one current run [3,3]
    val v1 = Seq((1L, "a"), (2L, "x"), (3L, "c")).toDF("id", "s")
    val v2 = Seq((1L, "a"), (2L, "y")).toDF("id", "s")
    val v3 = Seq((1L, "a"), (2L, "x"), (3L, "c"), (4L, "d")).toDF("id", "s")
    val got = VersionDiff.history(Seq(v1, v2, v3), Seq("id"))
      .orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "a", 1L, 3L, true),
      (2L, "x", 1L, 1L, false),
      (2L, "y", 2L, 2L, false),
      (2L, "x", 3L, 3L, true),
      (3L, "c", 1L, 1L, false),
      (3L, "c", 3L, 3L, true),
      (4L, "d", 3L, 3L, true)), got.mkString(","))
    // store-backed variant agrees
    val store = freshStore()
    Seq(v1, v2, v3).foreach(store.write("c", "h", _))
    val viaStore = VersionDiff.historyOf(store, "c", "h", Seq("id"))
      .orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(viaStore.toSeq == got.toSeq)
  }

  test("version diff: ops, null-safe compares, one-side columns, strict keys") {
    import graft.store.VersionDiff
    import spark.implicits._
    val old = Seq[(Long, Option[String], Option[Double])](
      (1L, Some("a"), Some(1.0)),   // unchanged
      (2L, Some("b"), None),        // null -> value  => update v
      (3L, None, Some(3.0)),        // deleted
      (4L, Some("d"), Some(4.0)),   // both change    => update s,v
      (5L, None, None)              // nulls unchanged
    ).toDF("id", "s", "v")
    val neu = Seq[(Long, Option[String], Option[Double])](
      (1L, Some("a"), Some(1.0)),
      (2L, Some("b"), Some(2.0)),
      (4L, Some("D"), Some(40.0)),
      (5L, None, None),
      (6L, Some("f"), Some(6.0))    // inserted
    ).toDF("id", "s", "v")
    val got = VersionDiff.diff(old, neu, Seq("id"), strict = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(got.toSeq == Seq(
      (2L, "update", Some("v")),
      (3L, "delete", None),
      (4L, "update", Some("s,v")),
      (6L, "insert", None)), got.mkString(","))
    // summary agrees
    val sm = VersionDiff.summary(old, neu, Seq("id")).collect()(0)
    assert((sm.getLong(0), sm.getLong(1), sm.getLong(2), sm.getLong(3)) ==
      ((1L, 1L, 2L, 4L)))
    // a column on only one side differs exactly where its values are non-null
    val widened = neu.withColumn("extra",
      F.when(F.col("id") === 1L, F.lit("x")))
    val got2 = VersionDiff.diff(old, widened, Seq("id")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(got2.head == ((1L, "update", Some("extra"))), got2.mkString(","))
    // duplicate keys fail loudly under strict
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "s")
    val ex = intercept[IllegalArgumentException] {
      VersionDiff.diff(dup, neu.select("id", "s"), Seq("id"), strict = true)
    }
    assert(ex.getMessage.contains("duplicate keys"), ex.getMessage)
    // unresolvable refs fail loudly
    val store = new TableStore(
      java.nio.file.Files.createTempDirectory("graft-vd").toString, spark)
    val ex2 = intercept[IllegalArgumentException] {
      VersionDiff.diffVersions(store, "c/none@HEAD", "c/none@HEAD", Seq("id"))
    }
    assert(ex2.getMessage.contains("unresolvable"), ex2.getMessage)
  }

  test("version diff/history: NULL key values match null-safely") {
    import graft.store.VersionDiff
    import spark.implicits._
    // a legitimately-null key must pair with its counterpart, not surface
    // as a spurious delete+insert; composite keys with one null leg too
    val old = Seq[(Option[Long], Option[String], String)](
      (None, Some("k"), "same"),      // null key, unchanged -> omitted
      (Some(1L), None, "old"),        // composite w/ null leg -> update
      (Some(2L), Some("b"), "gone"))  // deleted
      .toDF("k1", "k2", "v")
    val neu = Seq[(Option[Long], Option[String], String)](
      (None, Some("k"), "same"),
      (Some(1L), None, "new"),
      (Some(3L), None, "fresh"))      // inserted, null key leg
      .toDF("k1", "k2", "v")
    val got = VersionDiff.diff(old, neu, Seq("k1", "k2"), strict = true)
      .orderBy(F.col("k1").asc_nulls_first).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getString(2)))
    assert(got.toSeq == Seq(
      (Some(1L), None, "update"),
      (Some(2L), Some("b"), "delete"),
      (Some(3L), None, "insert")), got.mkString(","))
    // history: a null-keyed row's runs track like any other key's
    val v1 = Seq[(Option[Long], String)]((None, "a"), (Some(1L), "x")).toDF("id", "s")
    val v2 = Seq[(Option[Long], String)]((None, "b"), (Some(1L), "x")).toDF("id", "s")
    val h = VersionDiff.history(Seq(v1, v2), Seq("id"))
      .where(F.col("id").isNull).orderBy("valid_from").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(h.toSeq == Seq(("a", 1L, 1L), ("b", 2L, 2L)), h.mkString(","))
  }
}
