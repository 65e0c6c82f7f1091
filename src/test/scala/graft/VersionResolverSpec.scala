package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SysCtx, TableFrame}
import graft.flow.FlowEngine
import graft.store._

/** Version-resolution scenarios ported from the reference resolver's test
  * corpus (server/libraries/td-execution/src/version_resolver.rs:449-1957):
  * every selector form × the trigger-time (`triggered_on`) cutoff, plus the
  * fixed-not-found and descending-range error semantics. */
class VersionResolverSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** Store with `n` committed versions of c/t at ts = 1000, 2000, ... */
  private def seeded(n: Int): (TableStore, IndexedSeq[VersionEntry]) = {
    val store = new TableStore(Files.createTempDirectory("graft-vr").toString, spark)
    import spark.implicits._
    val entries = (1 to n).map { i =>
      val ctx = SysCtx.fresh().copy(version = store.newId(),
        timestamp = new java.sql.Timestamp(i * 1000L))
      val e = store.stageWrite("c", "t", Seq(i).toDF("v"), ctx)
      store.commitTransaction(ctx.transaction)
      e
    }
    (store, entries)
  }

  private def ids(es: Seq[VersionEntry]): Seq[String] = es.map(_.id)

  test("single HEAD: latest, HEAD at earlier cutoff, HEAD~1 (rs:578)") {
    val (s, v) = seeded(3)
    assert(s.resolveOne("c", "t", Version.Head(0)).get.id == v(2).id)
    // cutoff at version_2's triggered_on resolves HEAD to version_2 (inclusive)
    assert(s.resolveOne("c", "t", Version.Head(0), asOf = Some(2000L)).get.id == v(1).id)
    assert(s.resolveOne("c", "t", Version.Head(1)).get.id == v(1).id)
    // HEAD~1 under the cutoff steps back from the cutoff HEAD
    assert(s.resolveOne("c", "t", Version.Head(1), asOf = Some(2000L)).get.id == v(0).id)
    assert(s.resolveOne("c", "t", Version.Head(5)).isEmpty)
  }

  test("single INITIAL: oldest, INITIAL~n, cutoff hides nothing old (rs:674)") {
    val (s, v) = seeded(3)
    assert(s.resolveOne("c", "t", Version.Initial(0)).get.id == v(0).id)
    assert(s.resolveOne("c", "t", Version.Initial(2)).get.id == v(2).id)
    assert(s.resolveOne("c", "t", Version.Initial(0), asOf = Some(1000L)).get.id == v(0).id)
    // INITIAL~2 beyond the cutoff window is not visible
    assert(s.resolveOne("c", "t", Version.Initial(2), asOf = Some(2000L)).isEmpty)
    assert(s.resolveOne("c", "t", Version.Initial(9)).isEmpty)
  }

  test("single fixed: resolves by id; invisible past cutoff errors (rs:772)") {
    val (s, v) = seeded(3)
    assert(s.resolve("c", "t", Versions.Single(Version.Fixed(v(1).id))).map(_.id) == Seq(v(1).id))
    // the fixed version exists but is after the cutoff → not found → error
    intercept[NoSuchElementException] {
      s.resolve("c", "t", Versions.Single(Version.Fixed(v(2).id)), asOf = Some(2000L))
    }
  }

  test("single fixed not found is an error, not empty (rs:70-84)") {
    val (s, _) = seeded(1)
    intercept[NoSuchElementException] {
      s.resolve("c", "t", Versions.Single(Version.Fixed("0" * 26)))
    }
  }

  test("list of relatives resolves positionally (rs:852)") {
    val (s, v) = seeded(3)
    val got = s.resolve("c", "t",
      Versions.VList(Seq(Version.Head(0), Version.Head(2), Version.Initial(1))))
    assert(ids(got) == Seq(v(2).id, v(0).id, v(1).id))
    // relatives that fall off the end resolve to nothing but don't error
    val sparse = s.resolve("c", "t", Versions.VList(Seq(Version.Head(0), Version.Head(9))))
    assert(ids(sparse) == Seq(v(2).id))
  }

  test("list of fixed ids resolves each; mixed fixed+relative works (rs:914,960)") {
    val (s, v) = seeded(3)
    val got = s.resolve("c", "t",
      Versions.VList(Seq(Version.Fixed(v(0).id), Version.Fixed(v(2).id))))
    assert(ids(got) == Seq(v(0).id, v(2).id))
    val mixed = s.resolve("c", "t",
      Versions.VList(Seq(Version.Fixed(v(1).id), Version.Head(0))))
    assert(ids(mixed) == Seq(v(1).id, v(2).id))
  }

  test("list with missing fixed ids errors naming them (rs:1016)") {
    val (s, v) = seeded(2)
    val missing = "0" * 26
    val err = intercept[NoSuchElementException] {
      s.resolve("c", "t",
        Versions.VList(Seq(Version.Fixed(v(0).id), Version.Fixed(missing))))
    }
    assert(err.getMessage.contains(missing))
  }

  test("range HEAD~1..HEAD and INITIAL..INITIAL~1 (rs:1069,1121)") {
    val (s, v) = seeded(3)
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Head(1), Version.Head(0)))) ==
      Seq(v(1).id, v(2).id))
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Initial(0), Version.Initial(1)))) ==
      Seq(v(0).id, v(1).id))
  }

  test("range INITIAL..HEAD spans all; respects cutoff (rs:1173)") {
    val (s, v) = seeded(3)
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Initial(0), Version.Head(0)))) ==
      ids(v))
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Initial(0), Version.Head(0)),
      asOf = Some(2000L))) == Seq(v(0).id, v(1).id))
  }

  test("descending ranges resolve to nothing (rs:1239,1336,1371)") {
    val (s, _) = seeded(2)
    assert(s.resolve("c", "t", Versions.VRange(Version.Head(0), Version.Head(1))).isEmpty)
    assert(s.resolve("c", "t", Versions.VRange(Version.Initial(1), Version.Initial(0))).isEmpty)
    assert(s.resolve("c", "t", Versions.VRange(Version.Head(0), Version.Initial(0))).isEmpty)
  }

  test("descending range errors when errorOnDescRange (rs:1930)") {
    val (s, _) = seeded(2)
    intercept[IllegalArgumentException] {
      s.resolve("c", "t", Versions.VRange(Version.Head(0), Version.Head(1)),
        errorOnDescRange = true)
    }
  }

  test("same-bound ranges give one version; out-of-history gives none (rs:1498-1646)") {
    val (s, v) = seeded(2)
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Head(0), Version.Head(0)))) ==
      Seq(v(1).id))
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Initial(0), Version.Initial(0)))) ==
      Seq(v(0).id))
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Fixed(v(0).id), Version.Fixed(v(0).id)))) ==
      Seq(v(0).id))
    assert(s.resolve("c", "t", Versions.VRange(Version.Head(5), Version.Head(5))).isEmpty)
  }

  test("fixed..HEAD and fixed-bounded ranges (rs:1406,1684,1770)") {
    val (s, v) = seeded(3)
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Fixed(v(0).id), Version.Fixed(v(1).id)))) ==
      Seq(v(0).id, v(1).id))
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Fixed(v(1).id), Version.Head(0)))) ==
      Seq(v(1).id, v(2).id))
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Initial(0), Version.Fixed(v(1).id)))) ==
      Seq(v(0).id, v(1).id))
    // matching bounds across selector kinds: HEAD meeting the same fixed id
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Fixed(v(2).id), Version.Head(0)))) ==
      Seq(v(2).id))
  }

  test("default selector (Versions::None ≡ HEAD) tracks triggered_on (rs:449,514)") {
    val (s, v) = seeded(2)
    // at each version's own triggered_on, that version is HEAD (inclusive)
    assert(s.resolveOne("c", "t", Version.Head(0), asOf = Some(1000L)).get.id == v(0).id)
    assert(s.resolveOne("c", "t", Version.Head(0), asOf = Some(2000L)).get.id == v(1).id)
    // and "now" (no cutoff) resolves the latest
    assert(s.resolveOne("c", "t", Version.Head(0)).get.id == v(1).id)
  }

  test("resolution is per-table: sibling tables never leak in (rs:477)") {
    val (s, v) = seeded(1)
    import spark.implicits._
    Seq("other_1", "other_2").foreach { t =>
      val ctx = SysCtx.fresh().copy(version = s.newId(),
        timestamp = new java.sql.Timestamp(500L))
      s.stageWrite("c", t, Seq(99).toDF("v"), ctx)
      s.commitTransaction(ctx.transaction)
    }
    val got = s.resolve("c", "t", Versions.Single(Version.Head(0)))
    assert(ids(got) == Seq(v(0).id))
    assert(s.resolve("c", "other_1", Versions.Single(Version.Head(0))).head.id != v(0).id)
  }

  test("range with a pre-history HEAD bound clips to real history (rs:1291)") {
    val (s, v) = seeded(2)
    // HEAD~2..HEAD over 2 versions: the reference yields 3 positional slots
    // [None, v1, v2]; flattened to data that is both real versions
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Head(2), Version.Head(0)))) ==
      Seq(v(0).id, v(1).id))
    // HEAD~5..fixed(v1): 5 slots, only the fixed endpoint exists (rs:1886)
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Head(5), Version.Fixed(v(0).id)))) ==
      Seq(v(0).id))
  }

  test("range with a post-history INITIAL bound clips to real history") {
    val (s, v) = seeded(2)
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Initial(0), Version.Initial(5)))) ==
      ids(v))
  }

  test("inverse fixed range resolves to nothing (rs:1458)") {
    val (s, v) = seeded(3)
    assert(s.resolve("c", "t",
      Versions.VRange(Version.Fixed(v(2).id), Version.Fixed(v(0).id))).isEmpty)
  }

  test("same-bound ranges entirely outside history yield no data (rs:1574,1610)") {
    val (s, _) = seeded(2)
    // reference returns a single None slot for both; no data either way
    assert(s.resolve("c", "t", Versions.VRange(Version.Head(3), Version.Head(3))).isEmpty)
    assert(s.resolve("c", "t", Versions.VRange(Version.Initial(3), Version.Initial(3))).isEmpty)
  }

  test("fixed..INITIAL+n range (rs:1727)") {
    val (s, v) = seeded(2)
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Fixed(v(0).id), Version.Initial(1)))) ==
      Seq(v(0).id, v(1).id))
  }

  test("matching bounds across selector kinds (rs:1809,1847)") {
    val (s, v) = seeded(2)
    // INITIAL..HEAD~1 meet at the first version
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Initial(0), Version.Head(1)))) ==
      Seq(v(0).id))
    // INITIAL..fixed(first) likewise
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Initial(0), Version.Fixed(v(0).id)))) ==
      Seq(v(0).id))
  }

  test("range cutoff composes with positional bounds (rs:1173 × cutoff)") {
    val (s, v) = seeded(3)
    // under cutoff 2000 history is [v0, v1]; HEAD~2..HEAD clips to both
    assert(ids(s.resolve("c", "t", Versions.VRange(Version.Head(2), Version.Head(0)),
      asOf = Some(2000L))) == Seq(v(0).id, v(1).id))
    // fixed bound not visible under the cutoff → no data
    assert(s.resolve("c", "t", Versions.VRange(Version.Fixed(v(2).id), Version.Head(0)),
      asOf = Some(2000L)).isEmpty)
  }

  test("list mixing ranges' bounds under cutoff stays positional (rs:852 × cutoff)") {
    val (s, v) = seeded(3)
    val got = s.resolve("c", "t",
      Versions.VList(Seq(Version.Head(0), Version.Initial(0))), asOf = Some(2000L))
    assert(ids(got) == Seq(v(1).id, v(0).id))
  }

  test("INITIAL arithmetic past HEAD resolves empty, never wraps") {
    val (s, _) = seeded(2)
    assert(s.resolveOne("c", "t", Version.Initial(2)).isEmpty)
    assert(s.resolveOne("c", "t", Version.Initial(100)).isEmpty)
    // and in a list position it is simply absent
    assert(s.resolve("c", "t",
      Versions.VList(Seq(Version.Initial(0), Version.Initial(50)))).length == 1)
  }

  test("empty history: every selector resolves to nothing, fixed errors") {
    val store = new TableStore(Files.createTempDirectory("graft-vr").toString, spark)
    assert(store.resolveOne("c", "t", Version.Head(0)).isEmpty)
    assert(store.resolveOne("c", "t", Version.Initial(0)).isEmpty)
    assert(store.resolve("c", "t",
      Versions.VRange(Version.Initial(0), Version.Head(0))).isEmpty)
    intercept[NoSuchElementException] {
      store.resolve("c", "t", Versions.Single(Version.Fixed("0" * 26)))
    }
  }

  // ---- the store's incremental metadata index ----

  test("index: a second store on the same root sees write, commit, restore, vacuum") {
    val (s1, v) = seeded(3)
    import spark.implicits._
    val s2 = new TableStore(s1.root, spark)
    assert(ids(s2.versions("c", "t")) == ids(v))
    val v4 = s1.write("c", "t", Seq(4).toDF("v"))
    assert(ids(s2.versions("c", "t")) == ids(v) :+ v4.id)
    // an entry seen uncommitted becomes visible once its marker lands
    val ctx = SysCtx.fresh().copy(version = s1.newId())
    val v5 = s1.stageWrite("c", "t", Seq(5).toDF("v"), ctx)
    assert(ids(s2.versions("c", "t")) == ids(v) :+ v4.id)
    s1.commitTransaction(ctx.transaction)
    assert(ids(s2.versions("c", "t")) == ids(v) :+ v4.id :+ v5.id)
    val r = s1.restore("c", "t", "HEAD~1").get
    assert(s2.resolveOne("c", "t", Version.Head(0)).get.id == r.id)
    assert(s2.scan("c/t").get.df.select("v").head().getInt(0) == 4)
    s1.vacuum("c", "t", keepLast = 2)
    assert(ids(s2.versions("c", "t")) == Seq(v5.id, r.id))
    assert(s2.resolveOne("c", "t", Version.Fixed(v(0).id)).isEmpty)
  }

  test("index: deleteTable then re-create shows only the new versions") {
    val (s, _) = seeded(3)
    import spark.implicits._
    val other = new TableStore(s.root, spark)
    assert(other.versions("c", "t").size == 3)
    assert(s.deleteTable("c", "t"))
    assert(s.versions("c", "t").isEmpty && other.versions("c", "t").isEmpty)
    val n = s.write("c", "t", Seq(9).toDF("v"))
    assert(ids(s.versions("c", "t")) == Seq(n.id))
    assert(ids(other.versions("c", "t")) == Seq(n.id))
    assert(other.scan("c/t").get.df.select("v").head().getInt(0) == 9)
  }

  test("index: a re-created table is seen even when its log reuses the old inode") {
    // `other` reads, then reads nothing until the table was deleted and
    // re-created with as many entries; the new log is then moved onto the
    // old log's inode (kept alive by a hard link), as on a file system
    // that reuses freed inode numbers, so file key and size both match
    val (s, _) = seeded(3)
    import spark.implicits._
    val other = new TableStore(s.root, spark)
    assert(other.versions("c", "t").size == 3)
    val log = java.nio.file.Paths.get(s.root, "c", "t", "_log.jsonl")
    val oldInode = java.nio.file.Paths.get(s.root, "old-log.jsonl")
    Files.createLink(oldInode, log)
    assert(s.deleteTable("c", "t"))
    val n = (1 to 3).map { i =>
      val ctx = SysCtx.fresh().copy(version = s.newId(),
        timestamp = new java.sql.Timestamp(i * 1000L))
      val e = s.stageWrite("c", "t", Seq(i + 10).toDF("v"), ctx)
      s.commitTransaction(ctx.transaction)
      e
    }
    Files.write(oldInode, Files.readAllBytes(log))
    Files.move(oldInode, log, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(ids(other.versions("c", "t")) == ids(n))
    assert(other.scan("c/t").get.df.select("v").head().getInt(0) == 13)
  }

  test("index: an unterminated last log line is invisible until its newline lands") {
    val (s, v) = seeded(2)
    val log = java.nio.file.Paths.get(s.root, "c", "t", "_log.jsonl")
    def append(text: String): Unit = Files.writeString(log, text,
      java.nio.file.StandardOpenOption.APPEND)
    val txid = s.newId()
    s.commitTransaction(txid)
    val e = VersionEntry(s.newId(), "exec", txid, 3000L, "h", 1L)
    val line = s.renderEntry(e)
    append(line.take(line.length / 2))
    assert(ids(s.versions("c", "t")) == ids(v))
    append(line.drop(line.length / 2))
    assert(ids(s.versions("c", "t")) == ids(v))
    append("\n")
    assert(ids(s.versions("c", "t")) == ids(v) :+ e.id)
    assert(ids(s.versions("c", "t")) == ids(v) :+ e.id, "visible exactly once")
    // a complete line that does not parse is corruption: loud, every time
    append("not json\n")
    intercept[IllegalStateException](s.versions("c", "t"))
    intercept[IllegalStateException](s.versions("c", "t"))
  }

  test("index: concurrent readers see histories that extend one another") {
    val (s, _) = seeded(2)
    import spark.implicits._
    @volatile var writing = true
    val pruned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val readers = (0 until 4).map { r =>
      val histories = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      val errors = scala.collection.mutable.ArrayBuffer[Throwable]()
      val t = new Thread(() => {
        while (writing) {
          try {
            histories += ids(s.versions("c", "t"))
            assert(s.schema("c/t").exists(_.fieldNames.contains("v")))
            s.resolveOne("c", "t", Version.Head(r % 2))
          } catch { case e: Throwable => errors += e }
        }
      })
      t.start()
      (t, histories, errors)
    }
    try {
      (1 to 12).foreach { i =>
        s.write("c", "t", Seq(i).toDF("v"))
        if (i % 3 == 0) s.restore("c", "t", "HEAD~1")
        if (i % 4 == 0) s.vacuum("c", "t", keepLast = 3).foreach(pruned.add)
      }
    } finally {
      writing = false
      readers.foreach(_._1.join())
    }
    val gone: Set[String] = pruned.toArray(Array.empty[String]).toSet
    readers.foreach { case (_, histories, errors) =>
      assert(errors.isEmpty, errors.headOption.map(_.toString))
      assert(histories.nonEmpty)
      histories.zip(histories.drop(1)).foreach { case (h1, h2) =>
        val (s1, s2) = (h1.toSet, h2.toSet)
        // nothing disappears unless pruned; what stays keeps its order;
        // unpruned history only grows at the end
        assert(h1.filterNot(s2).forall(gone), (h1, h2))
        assert(h1.filter(s2) == h2.filter(s1), (h1, h2))
        assert(h2.filterNot(gone).startsWith(h1.filterNot(gone)), (h1, h2))
      }
    }
  }

  test("flow re-run at the original trigger time sees the original inputs") {
    val store = new TableStore(Files.createTempDirectory("graft-vr").toString, spark)
    val engine = new FlowEngine(store, spark)
    import spark.implicits._
    var payload = Seq((1, "first"))
    engine.publisher("pub", "c", Seq("src")) { _ =>
      Seq(TableFrame.fromRaw(payload.toDF("id", "tag")))
    }
    engine.transformer("tx", "c", Seq("src"), Seq("dst")) { ctx =>
      Seq(ctx.input(0))
    }
    engine.trigger("pub")
    val firstRunTs = store.versions("c", "dst").last.timestampMs
    // an unrelated later execution advances src
    Thread.sleep(5)
    payload = Seq((2, "second"))
    engine.runFunction(engine.fn("pub"), store.newId(), System.currentTimeMillis())
    assert(store.scan("c/src").get.df.count() == 1) // HEAD is now "second"
    assert(store.scan("c/src").get.df.select("tag").head().getString(0) == "second")
    // re-running the transformer with the ORIGINAL execution ts resolves the
    // ORIGINAL src version, not the newer one (version_resolver.rs:29-37)
    engine.runFunction(engine.fn("tx"), store.newId(), firstRunTs)
    val dst = store.scan("c/dst").get.df
    assert(dst.select("tag").head().getString(0) == "first")
  }
}
