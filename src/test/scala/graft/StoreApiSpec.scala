package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SysCtx
import graft.server.StoreApi
import graft.store.{TableRef, TableStore}

/** The HTTP table-API surface over the store (reference:
  * api/apiserver.py:936-1013 — list/schema/sample/download/delete). */
class StoreApiSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def freshStore() =
    new TableStore(Files.createTempDirectory("graft-api-store").toString, spark)

  private val http = HttpClient.newHttpClient()
  private def get(port: Int, path: String): HttpResponse[Array[Byte]] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
  private def delete(port: Int, path: String): HttpResponse[Array[Byte]] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .DELETE().build(), HttpResponse.BodyHandlers.ofByteArray())
  private def json(r: HttpResponse[Array[Byte]]) =
    TableStore.jsonMapper.readTree(new String(r.body()))

  private def withApi(store: TableStore)(body: Int => Unit): Unit = {
    val api = new StoreApi(store)
    api.start()
    try body(api.boundPort) finally api.stop()
  }

  private def parquetRows(bytes: Array[Byte]): org.apache.spark.sql.DataFrame = {
    val f = Files.createTempFile("graft-api-got", ".parquet")
    Files.write(f, bytes)
    spark.read.parquet(f.toString)
  }

  test("list, schema, sample, download round-trip over HTTP") {
    import spark.implicits._
    val store = freshStore()
    store.write("c", "people",
      Seq(("ann", 41), ("bo", 7), ("cy", 19), ("di", 66)).toDF("name", "age"))
    withApi(store) { port =>
      val ls = get(port, "/collections/c/tables")
      assert(ls.statusCode() == 200)
      assert(json(ls).get("data").get(0).get("name").asText() == "people")

      val sc = get(port, "/collections/c/tables/people/schema")
      assert(sc.statusCode() == 200)
      val fields = json(sc).get("data").get("fields")
      val names = (0 until fields.size()).map(fields.get(_).get("name").asText())
      assert(names.contains("name") && names.contains("age"))

      val sm = get(port, "/collections/c/tables/people/sample?offset=1&len=2")
      assert(sm.statusCode() == 200)
      assert(sm.headers().firstValue("Content-Type").get().contains("parquet"))
      assert(parquetRows(sm.body()).count() == 2)

      val dl = get(port, "/collections/c/tables/people/download")
      val full = parquetRows(dl.body())
      assert(full.count() == 4)
      assert(full.select("name").as[String].collect().toSet ==
        Set("ann", "bo", "cy", "di"))
    }
  }

  test("at= serves the version visible at that cutoff") {
    import spark.implicits._
    val store = freshStore()
    store.write("c", "t", Seq((1, "old")).toDF("id", "tag"))
    Thread.sleep(5)
    val cut = System.currentTimeMillis()
    Thread.sleep(5)
    store.write("c", "t", Seq((1, "new"), (2, "new")).toDF("id", "tag"))
    withApi(store) { port =>
      val then_ = parquetRows(get(port,
        s"/collections/c/tables/t/download?at=$cut").body())
      assert(then_.count() == 1)
      val now = parquetRows(get(port, "/collections/c/tables/t/download").body())
      assert(now.count() == 2)
    }
  }

  test("version grammar in the table segment (t@HEAD~1)") {
    import spark.implicits._
    val store = freshStore()
    store.write("c", "t", Seq((1, "v1")).toDF("id", "tag"))
    store.write("c", "t", Seq((1, "v2"), (2, "v2")).toDF("id", "tag"))
    withApi(store) { port =>
      val prev = parquetRows(get(port,
        "/collections/c/tables/t@HEAD~1/download").body())
      assert(prev.count() == 1)
    }
  }

  test("restore over HTTP: rollback publishes, noop answered, bad target 404") {
    import spark.implicits._
    val store = freshStore()
    store.write("c", "t", Seq((1, "good")).toDF("id", "v"))
    store.write("c", "t", Seq((1, "bad")).toDF("id", "v"))
    withApi(store) { port =>
      def post(path: String) = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val r = post("/collections/c/tables/t/restore?to=HEAD~1")
      assert(r.statusCode() == 200)
      assert(json(r).get("data").get("version") != null)
      val head = parquetRows(
        get(port, "/collections/c/tables/t/download").body())
      assert(head.select("v").collect().map(_.getString(0)).toSeq == Seq("good"))
      // the same target again is a no-op, not a new version
      val noop = post("/collections/c/tables/t/restore?to=HEAD")
      assert(noop.statusCode() == 200 &&
        json(noop).get("data").asText().startsWith("noop"))
      assert(post("/collections/c/tables/t/restore?to=HEAD~9")
        .statusCode() == 404)
      assert(post("/collections/c/tables/t/restore")
        .statusCode() == 400)
    }
  }

  test("404 on unknown table, 405 on unsupported method, delete drops") {
    import spark.implicits._
    val store = freshStore()
    store.write("c", "t", Seq((1, "a")).toDF("id", "tag"))
    withApi(store) { port =>
      assert(get(port, "/collections/c/tables/nope/schema").statusCode() == 404)
      assert(get(port, "/collections/c/tables/nope/sample").statusCode() == 404)
      val post = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/collections/c/tables"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(post.statusCode() == 405)

      assert(delete(port, "/collections/c/tables/t").statusCode() == 200)
      assert(store.listTables("c").isEmpty)
      assert(delete(port, "/collections/c/tables/t").statusCode() == 404)
    }
  }

  test("collections, data-versions, transactions, status endpoints") {
    import spark.implicits._
    val store = freshStore()
    store.write("c1", "t", Seq((1, "a")).toDF("id", "tag"))
    store.write("c1", "t", Seq((2, "b")).toDF("id", "tag"))
    store.write("c2", "u", Seq((3, "c")).toDF("id", "tag"))
    withApi(store) { port =>
      assert(json(get(port, "/status")).get("data").asText() == "OK")

      val cols = json(get(port, "/collections")).get("data")
      val names = (0 until cols.size()).map(cols.get(_).get("name").asText())
      assert(names == Seq("c1", "c2"))

      val vs = json(get(port, "/collections/c1/tables/t/data-versions")).get("data")
      assert(vs.size() == 2)
      assert(vs.get(0).get("rows").asLong() == 1)
      assert(vs.get(1).get("created_at").asLong() >= vs.get(0).get("created_at").asLong())
      assert(get(port, "/collections/c1/tables/zzz/data-versions").statusCode() == 404)

      // write() commits through the transaction marker path
      val tx = json(get(port, "/transactions")).get("data")
      assert(tx.size() >= 1)
    }
  }

  test("flow functions list and execute over HTTP") {
    import spark.implicits._
    val store = freshStore()
    val engine = new graft.flow.FlowEngine(store, spark)
    engine.publisher("pub", "c", Seq("out")) { _ =>
      Seq(graft.core.TableFrame.fromRaw(Seq((1, "x"), (2, "y")).toDF("id", "tag")))
    }
    val api = new StoreApi(store, Some(engine))
    api.start()
    try {
      val port = api.boundPort
      val fns = json(get(port, "/collections/c/functions")).get("data")
      assert(fns.get(0).get("name").asText() == "pub")
      assert(fns.get(0).get("role").asText() == "publisher")

      val resp = http.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/collections/c/functions/pub/execute"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      assert(json(resp).get("data").get(0).asText() == "pub")
      assert(store.scan("c/out").get.df.count() == 2)

      assert(http.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/collections/c/functions/nope/execute"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofByteArray()).statusCode() == 404)
    } finally api.stop()
  }

  test("404 bodies stay JSON when the path segment holds a quote") {
    val store = freshStore()
    val api = new StoreApi(store, Some(new graft.flow.FlowEngine(store, spark)))
    api.start()
    try {
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${api.boundPort}/collections/c/functions/a%22b/execute"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 404)
      // the body parses, and the decoded name is in it verbatim
      assert(json(resp).get("error").asText() == "function not found: c/a\"b")
    } finally api.stop()
  }

  test("execution journal: runs, rollup, history, failures") {
    import spark.implicits._
    val store = freshStore()
    val engine = new graft.flow.FlowEngine(store, spark)
    engine.publisher("ok", "c", Seq("t")) { _ =>
      Seq(graft.core.TableFrame.fromRaw(Seq((1, "a")).toDF("id", "tag")))
    }
    engine.publisher("boom", "c", Seq("u")) { _ =>
      throw new IllegalStateException("synthetic failure")
    }
    engine.trigger("ok")
    intercept[IllegalStateException] { engine.trigger("boom") }
    withApi(store) { port =>
      val runs = json(get(port, "/function_runs")).get("data")
      assert(runs.size() == 2)
      assert((0 until runs.size()).forall(i => runs.get(i).get("started_on").asLong() >=
        runs.get(i).get("triggered_on").asLong()))

      val hist = json(get(port, "/collections/c/functions/boom/history")).get("data")
      assert(hist.size() == 1)
      assert(hist.get(0).get("status").asText() == "failed")
      assert(hist.get(0).get("error").asText().contains("synthetic failure"))

      val exs = json(get(port, "/executions")).get("data")
      assert(exs.size() == 2)
      val statuses = (0 until exs.size()).map(exs.get(_).get("status").asText())
      assert(statuses.toSet == Set("done", "failed"))
    }
  }

  test("execution journal: a torn last line is skipped, endpoints answer 200") {
    import graft.flow.{ExecutionLog, ExecutionRecord}
    val store = freshStore()
    val log = java.nio.file.Paths.get(store.root, "_executions", "log.jsonl")
    Files.createDirectories(log.getParent)
    val done = ExecutionRecord("e1", "f", "c", "done", 5L, 7L, None, Some(6L))
    ExecutionLog.append(store.root, done)
    // an append cut short: no closing brace, no newline
    Files.writeString(log, """{"execution":"e2","function":"f","coll""",
      java.nio.file.StandardOpenOption.APPEND)
    assert(ExecutionLog.read(store.root) == Seq(done))
    // the journal line keeps its field order, byte for byte
    val line = """{"execution":"e1","function":"f","collection":"c","status":"done",""" +
      """"triggered_on":5,"duration_ms":7,"started_on":6}"""
    assert(Files.readString(log).startsWith(line + "\n"))
    withApi(store) { port =>
      for (path <- Seq("/function_runs", "/executions", "/collections/c/functions/f/history")) {
        val r = get(port, path)
        assert(r.statusCode() == 200, path)
        assert(json(r).get("data").size() == 1, path)
      }
      assert(json(get(port, "/function_runs")).get("data").get(0).toString == line)
    }
  }

  test("path traversal in URL segments is rejected, store left intact") {
    import spark.implicits._
    val store = freshStore()
    store.write("c", "t", Seq((1, "a")).toDF("id", "tag"))
    withApi(store) { port =>
      // DELETE /collections/c/tables/.. would resolve to the store root;
      // %2e%2e survives client/server parsing and percent-decodes in getPath
      assert(delete(port, "/collections/c/tables/%2e%2e").statusCode() == 400)
      assert(delete(port, "/collections/%2e%2e/tables/c").statusCode() == 400)
      assert(get(port, "/collections/%2e%2e/tables").statusCode() == 400)
      assert(get(port, "/collections/c/tables/%2e%2e/schema").statusCode() == 400)
      // an encoded slash adds a path segment: either rejected as a bad name
      // (400) or unroutable (404) — never resolved against the filesystem
      assert(Set(400, 404)(
        get(port, "/collections/c/tables/%2e%2e%2fsecret/download").statusCode()))
      // store untouched by the attempts
      assert(store.listTables("c") == Seq("t"))
      assert(store.scan("c/t").get.df.count() == 1)
    }
    // the guard lives in TableStore, so non-HTTP callers are covered too
    intercept[IllegalArgumentException](store.deleteTable("..", "t"))
    intercept[IllegalArgumentException](store.deleteTable("c", "."))
    intercept[IllegalArgumentException](store.deleteTable("c", "a/b"))
    intercept[IllegalArgumentException](store.deleteTable("c", ""))
    intercept[IllegalArgumentException](store.listTables("_transactions"))
    intercept[IllegalArgumentException](store.write("c", ".staging",
      Seq((1, "a")).toDF("id", "tag")))
  }

  test("a slow request does not block the health probe (worker pool)") {
    import spark.implicits._
    val store = freshStore()
    val engine = new graft.flow.FlowEngine(store, spark)
    val entered = new java.util.concurrent.CountDownLatch(1)
    engine.publisher("slow", "c", Seq("out")) { _ =>
      entered.countDown()
      Thread.sleep(3000)
      Seq(graft.core.TableFrame.fromRaw(Seq((1, "a")).toDF("id", "tag")))
    }
    val api = new StoreApi(store, Some(engine))
    api.start()
    try {
      val port = api.boundPort
      val slow = http.sendAsync(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/collections/c/functions/slow/execute"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      // the slow handler is now parked on a worker thread for 3 s; with
      // setExecutor(null) every request below would queue behind it
      assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      assert(get(port, "/status").statusCode() == 200)
      assert(get(port, "/collections/c/tables").statusCode() == 200)
      val probeSec = (System.nanoTime() - t0) / 1e9
      assert(probeSec < 2.0,
        f"probes took $probeSec%.2f s — blocked behind the slow request")
      assert(slow.join().statusCode() == 200)
    } finally api.stop()
  }

  test("bearer-token auth: 401 without the token, data with it, /status open") {
    import spark.implicits._
    val store = freshStore()
    store.write("c", "t", Seq((1, "a")).toDF("id", "tag"))
    val api = new StoreApi(store, authToken = Some("s3cret-token"))
    api.start()
    try {
      val port = api.boundPort
      def withAuth(path: String, token: String) =
        http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .header("Authorization", s"Bearer $token").build(),
          HttpResponse.BodyHandlers.ofByteArray())
      // no token / wrong token / wrong scheme → 401, and no data leaks
      assert(get(port, "/collections").statusCode() == 401)
      assert(withAuth("/collections", "wrong").statusCode() == 401)
      assert(delete(port, "/collections/c/tables/t").statusCode() == 401)
      assert(store.scan("c/t").isDefined) // the unauthorized delete did nothing
      // the right token serves normally
      val ok = withAuth("/collections/c/tables", "s3cret-token")
      assert(ok.statusCode() == 200)
      assert(json(ok).get("data").get(0).get("name").asText() == "t")
      // health probe stays open for unauthenticated liveness checks
      assert(get(port, "/status").statusCode() == 200)
    } finally api.stop()
    // default construction stays open (localhost dev mode)
    withApi(store) { port => assert(get(port, "/collections").statusCode() == 200) }
  }

  test("bad params are a 400, not a 500") {
    import spark.implicits._
    val store = freshStore()
    store.write("c", "t", Seq((1, "a")).toDF("id", "tag"))
    withApi(store) { port =>
      assert(get(port, "/collections/c/tables/t/sample?offset=-1").statusCode() == 400)
    }
  }

  /** GET `sample` and check the body against `store.sample` with the same
    * arguments: its decoded schema (names, types, nullability) and rows, in
    * order, are the sample's, and its bytes are those of a single-file Spark
    * write of the sample. Returns the decoded rows. */
  private def assertSample(port: Int, store: TableStore, c: String, t: String,
      offset: Int, len: Int, at: Option[Long] = None): Seq[org.apache.spark.sql.Row] = {
    val r = get(port, s"/collections/$c/tables/$t/sample?offset=$offset&len=$len" +
      at.fold("")(a => s"&at=$a"))
    assert(r.statusCode() == 200, new String(r.body()))
    val want = store.sample(TableRef.parse(t, c), offset, len, at).get
    val dir = Files.createTempDirectory("graft-api-sample")
    try {
      val got = spark.read.parquet(Files.write(dir.resolve("got.parquet"), r.body()).toString)
      assert(got.schema == want.schema)
      val rows = got.collect().toSeq
      assert(rows == want.collect().toSeq)
      want.coalesce(1).write.parquet(dir.resolve("want").toString)
      val part = scala.util.Using.resource(Files.list(dir.resolve("want")))(
        _.iterator().asScala.find(_.toString.endsWith(".parquet")).get)
      assert(java.util.Arrays.equals(r.body(), Files.readAllBytes(part)))
      rows
    } finally TableStore.deleteTree(dir)
  }

  test("sample fidelity: nested and typed columns, the $td. columns, len=0, past the end") {
    import spark.implicits._
    val store = freshStore()
    val df = (0 until 30).map { i =>
      (i.toLong, BigDecimal(i) / 7, java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d"),
        new java.sql.Timestamp(1700000000000L + i * 3600000L),
        (0 until i % 4).map(j => s"v$j"), (i % 3, if (i % 5 == 0) null else s"s$i"),
        Map(s"k$i" -> i.toDouble))
    }.toDF("id", "amount", "day", "ts", "tags", "pair", "attrs")
      .withColumn("amount", F.col("amount").cast("decimal(12,4)"))
      .coalesce(1)
    store.write("c", "typed", df)
    withApi(store) { port =>
      val got = assertSample(port, store, "c", "typed", 3, 5)
      assert(got.size == 5)
      val names = got.head.schema.fieldNames.toSeq
      assert(Seq("id", "amount", "day", "ts", "tags", "pair", "attrs").forall(names.contains))
      assert(names.exists(_.startsWith("$td.")))
      assertSample(port, store, "c", "typed", 0, 100)
      // len=0: a valid parquet file with the full schema and no rows
      assert(assertSample(port, store, "c", "typed", 0, 0).isEmpty)
      assert(assertSample(port, store, "c", "typed", 500, 20).isEmpty)
    }
  }

  test("sample fidelity: hive-partitioned, restored, column-adding range, at=") {
    import spark.implicits._
    val store = freshStore()
    val ctx = SysCtx.fresh()
    store.stageWrite("c", "part",
      (0 until 40).map(i => (i, s"r$i", i % 3)).toDF("id", "tag", "p"), ctx,
      partitionBy = Seq("p"))
    store.commitTransaction(ctx.transaction)
    store.write("c", "evo", Seq((1, "a"), (2, "b")).toDF("id", "tag").coalesce(1))
    Thread.sleep(5)
    val cut = System.currentTimeMillis()
    Thread.sleep(5)
    store.write("c", "evo",
      Seq((3, "c", 3.5), (4, "d", 4.5)).toDF("id", "tag", "score").coalesce(1))
    store.write("c", "evo", Seq((9, "bad")).toDF("id", "tag"))
    store.restore("c", "evo", "HEAD~2")
    withApi(store) { port =>
      assert(assertSample(port, store, "c", "part", 2, 10).size == 10)
      // HEAD is the restored version: its data lives in HEAD~3's directory
      val restored = assertSample(port, store, "c", "evo", 0, 10)
      assert(restored.map(_.getAs[Int]("id")) == Seq(1, 2))
      // a range whose newer version added `score`: the older rows read it as null
      val range = assertSample(port, store, "c", "evo@HEAD~3..HEAD~2", 1, 2)
      assert(range.head.schema.fieldNames.contains("score"))
      assert(range.map(_.getAs[Int]("id")) == Seq(2, 3))
      assert(assertSample(port, store, "c", "evo", 0, 10, Some(cut))
        .map(_.getAs[Int]("id")) == Seq(1, 2))
    }
  }

  test("sample runs one Spark job and leaves nothing under java.io.tmpdir") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import spark.implicits._
    val sc = spark.sparkContext
    val group = s"storeapi-spec-${java.util.UUID.randomUUID()}"
    val store = freshStore()
    store.write("c", "t", (0 until 100).map(i => (i, s"r$i")).toDF("id", "tag").coalesce(1))
    store.write("c", "multi", (0 until 200).map(i => (i, s"r$i")).toDF("id", "tag").repartition(4))
    // every job of this thread carries `group`, so a job without it is the
    // server's. A marker job runs after the request; the listener bus
    // delivers in order, so once its end is seen every earlier job is counted.
    def serverJobs(request: => Unit): Int = {
      val marker = s"$group-marker-${java.util.UUID.randomUUID()}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val markerIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val markerDone = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val props = Option(e.properties)
          if (props.exists(_.getProperty("spark.job.description") == marker)) markerIds.add(e.jobId)
          else if (!props.exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (markerIds.contains(e.jobId)) markerDone.countDown()
      }
      sc.addSparkListener(listener)
      try {
        request
        sc.setJobDescription(marker)
        spark.range(1).collect()
        assert(markerDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
        jobs.get
      } finally sc.removeSparkListener(listener)
    }
    val tmp = java.nio.file.Path.of(System.getProperty("java.io.tmpdir"))
    def entries() = scala.util.Using.resource(Files.list(tmp))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    sc.setJobGroup(group, "StoreApiSpec")
    try withApi(store) { port =>
      val sample = "/collections/c/tables/t/sample?len=20"
      assert(get(port, sample).statusCode() == 200) // warm up the pool thread
      val before = entries()
      val n = serverJobs(assert(get(port, sample).statusCode() == 200))
      val added = entries() -- before
      assert(added.isEmpty, s"new entries under $tmp: $added")
      assert(n == 1, s"one sample ran $n Spark jobs")
      // one file per split: an offset past the first partitions is still one
      // job, and the rows are those of `store.sample`
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      try {
        assert(store.scan(TableRef.parse("multi", "c")).get.df.rdd.getNumPartitions >= 4)
        val m = serverJobs(assert(assertSample(port, store, "c", "multi", 130, 40).size == 40))
        // assertSample's own jobs run in `group`
        assert(m == 1, s"a multi-partition sample ran $m Spark jobs")
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    } finally sc.clearJobGroup()
  }
}
