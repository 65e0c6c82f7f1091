package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.Using

import com.fasterxml.jackson.databind.node.ArrayNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.Bridge

import graft.flow.{ExecutionLog, ExecutionRecord, FlowEngine}
import graft.store.{TableRef, TableStore}

/** Minimal HTTP serving layer over a [[TableStore]] — the library-side
  * analog of the reference's table API surface (api/apiserver.py:936-1013;
  * served by api/tabsdata_server.py:2476-2527):
  *
  *   - `GET    /collections/{c}/tables`                    — list (JSON)
  *   - `GET    /collections/{c}/tables/{t}/schema[?at=ms]` — schema (JSON)
  *   - `GET    /collections/{c}/tables/{t}/sample?offset=&len=[&at=ms]`
  *     — a bounded row slice as parquet bytes (the reference's sample
  *     endpoint also returns parquet content)
  *   - `GET    /collections/{c}/tables/{t}/download[?at=ms]` — full parquet
  *   - `DELETE /collections/{c}/tables/{t}`                — drop the table
  *   - `GET    /collections`                               — collections
  *   - `GET    /collections/{c}/tables/{t}/data-versions`  — version log
  *   - `POST   /collections/{c}/tables/{t}/restore?to=ref` — metadata-only
  *     rollback ([[graft.store.TableStore.restore]])
  *   - `GET    /transactions`                              — committed txns
  *   - `GET    /status`                                    — health probe
  *   - `GET    /collections/{c}/functions` and
  *     `POST   /collections/{c}/functions/{f}/execute`     — list/trigger
  *     registered flow functions when a [[FlowEngine]] is attached; an
  *     execute returns the names of the functions it ran in plan order
  *     ([[FlowEngine.trigger]]), which is not the order they finished in
  *   - `GET    /executions`, `GET /function_runs`,
  *     `GET    /collections/{c}/functions/{f}/history`     — the run
  *     journal ([[graft.flow.ExecutionLog]]), incl. failed runs
  *
  * The `{t}` segment accepts the store's version grammar (`t@HEAD~2`), and
  * `at` is the reference's epoch-millis trigger-time cutoff.
  *
  * Scale note: schema and list are served from the version log alone (no
  * Spark job, no file reads). `sample` is one Spark job of one task
  * ([[Bridge.sliceParquet]]): no shuffle, no write job, no temp dir. The
  * task reads the table's partitions in order, drops the first `offset`
  * rows as it reads them, and encodes the next `len` (at most) as one
  * parquet file, so the driver holds no rows, only that file of at most
  * `len` rows. `download` is a single-file Spark write (one task, no rows
  * on the driver) read back into the response. The two differ because a
  * task's result is capped by `spark.driver.maxResultSize`, which a
  * `len`-bounded slice may pass through and a whole table may not.
  * `download` funnels the whole table through one HTTP response by design —
  * that is what a download endpoint is — while the data path for engines
  * stays the distributed parquet under the store root; a cluster consumer
  * should read those files, not this endpoint. */
final class StoreApi(store: TableStore, engine: Option[FlowEngine] = None,
    port: Int = 0, authToken: Option[String] = None) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  Seq("/collections", "/transactions", "/status", "/executions", "/function_runs")
    .foreach(p => server.createContext(p, (ex: HttpExchange) => safely(ex)(route(ex))))
  // a small fixed pool, not setExecutor(null): on the dispatch thread one
  // slow `download` (a full-table parquet rewrite) serializes every other
  // endpoint behind it, including the `/status` health probe. Spark is
  // thread-safe across concurrent actions; 4 daemon workers keep probes and
  // listings responsive without inviting unbounded concurrent table scans.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    (r: Runnable) => {
      val t = new Thread(r, "graft-store-api"); t.setDaemon(true); t
    })
  server.setExecutor(pool)

  def boundPort: Int = server.getAddress.getPort
  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }

  private def safely(ex: HttpExchange)(body: => Unit): Unit =
    try { if (authorized(ex)) body else respondError(ex, 401,
      "missing or invalid bearer token") }
    catch { case e: Throwable =>
      respondError(ex, if (e.isInstanceOf[IllegalArgumentException]) 400 else 500,
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    } finally ex.close()

  /** Static bearer-token auth, the minimal port of the reference
    * apiserver's token layer (api/apiserver.py users/roles/tokens — the
    * full login/refresh flow is out of scope for a query-capability port).
    * Unset token → open server (the localhost dev default); set → every
    * endpoint except the `/status` health probe requires
    * `Authorization: Bearer <token>`, compared constant-time. */
  private def authorized(ex: HttpExchange): Boolean = authToken match {
    case None => true
    case Some(_) if ex.getRequestURI.getPath.stripSuffix("/") == "/status" => true
    case Some(tok) =>
      val got = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      val want = s"Bearer $tok"
      java.security.MessageDigest.isEqual(
        got.getBytes(StandardCharsets.UTF_8), want.getBytes(StandardCharsets.UTF_8))
  }

  private def route(ex: HttpExchange): Unit = {
    val segs = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/").split("/").toSeq
    val q = query(ex)
    (ex.getRequestMethod, segs) match {
      case ("GET", Seq("status")) =>
        respondJson(ex, 200, """{"data":"OK"}""")

      case ("GET", Seq("collections")) =>
        respondData(ex) { data =>
          store.listCollections().foreach(c => data.addObject().put("name", c))
        }

      case ("GET", Seq("transactions")) =>
        respondData(ex) { data =>
          store.listTransactions().foreach(t => data.addObject().put("id", t))
        }

      case ("GET", Seq("function_runs")) =>
        respondRuns(ex, ExecutionLog.read(store.root))

      case ("GET", Seq("executions")) =>
        // one row per trigger: id + rollup status (failed if any run failed)
        val runs = ExecutionLog.read(store.root)
        respondData(ex) { data =>
          runs.groupBy(_.execution).toSeq
            .sortBy { case (_, rs) => rs.map(_.triggeredOn).min }
            .foreach { case (id, rs) =>
              data.addObject().put("id", id)
                .put("status", if (rs.exists(_.status == "failed")) "failed" else "done")
                .put("triggered_on", rs.map(_.triggeredOn).min)
                .put("function_runs", rs.size)
            }
        }

      case ("GET", Seq("collections", c, "functions", f, "history")) =>
        respondRuns(ex, ExecutionLog.read(store.root)
          .filter(r => r.collection == c && r.function == f))

      case ("GET", Seq("collections", c, "tables", t, "data-versions")) =>
        val vs = store.versions(c, t)
        if (vs.isEmpty) notFound(ex, s"table not found: $c/$t")
        else respondData(ex) { data =>
          vs.foreach { v =>
            data.addObject().put("id", v.id).put("execution", v.execution)
              .put("transaction", v.transaction).put("created_at", v.timestampMs)
              .put("rows", v.rows)
          }
        }

      case ("GET", Seq("collections", c, "functions")) =>
        engine match {
          case None => notFound(ex, "no flow engine attached")
          case Some(eng) => respondData(ex) { data =>
            eng.functionsIn(c).foreach { f =>
              val o = data.addObject().put("name", f.name)
                .put("role", f.role.toString.toLowerCase)
              val outs = o.putArray("tables")
              f.outputs.foreach(outs.add)
            }
          }
        }

      case ("POST", Seq("collections", c, "functions", f, "execute")) =>
        engine match {
          case None => notFound(ex, "no flow engine attached")
          case Some(eng) if !eng.functionsIn(c).exists(_.name == f) =>
            notFound(ex, s"function not found: $c/$f")
          case Some(eng) =>
            val ran = eng.trigger(f)
            respondData(ex)(data => ran.foreach(data.add))
        }

      case ("GET", Seq("collections", c, "tables")) =>
        respondData(ex) { data =>
          store.listTables(c).foreach(t => data.addObject().put("name", t))
        }

      case ("GET", Seq("collections", c, "tables", t, "schema")) =>
        store.schema(TableRef.parse(t, c), q.get("at").map(_.toLong)) match {
          case None => notFound(ex, s"table not found: $c/$t")
          case Some(s) =>
            val root = TableStore.jsonMapper.createObjectNode()
            val fields = root.putObject("data").putArray("fields")
            s.fields.foreach { f =>
              fields.addObject().put("name", f.name)
                .put("type", f.dataType.typeName).put("nullable", f.nullable)
            }
            respondJson(ex, 200, TableStore.jsonMapper.writeValueAsString(root))
        }

      case ("GET", Seq("collections", c, "tables", t, "sample")) =>
        val offset = q.get("offset").map(_.toInt).getOrElse(0)
        val len = q.get("len").map(_.toInt).getOrElse(100)
        require(offset >= 0 && len >= 0, s"offset/len must be >= 0, got $offset/$len")
        store.sample(TableRef.parse(t, c), offset, len, q.get("at").map(_.toLong)) match {
          case None => notFound(ex, s"table not found: $c/$t")
          case Some(df) => respondParquet(ex, Bridge.sliceParquet(df))
        }

      case ("GET", Seq("collections", c, "tables", t, "download")) =>
        scanAt(c, t, q) match {
          case None => notFound(ex, s"table not found: $c/$t")
          case Some(df) => respondParquet(ex, singleFileParquet(df))
        }

      case ("POST", Seq("collections", c, "tables", t, "restore")) =>
        // metadata-only rollback: ?to=<selector> (HEAD~n / fixed id)
        q.get("to") match {
          case None => respondError(ex, 400, "missing required query parameter: to")
          case Some(ref) =>
            // a selector that does not PARSE is the caller's malformed
            // request (400); a selector that parses but resolves to no
            // version is a missing resource (404) — and either message
            // embeds the user-supplied ref, so it must be JSON-escaped
            val parseError =
              try { graft.store.Version.parse(ref); None }
              catch { case iae: IllegalArgumentException => Some(iae) }
            parseError match {
              case Some(iae) => respondError(ex, 400, iae.getMessage)
              case None =>
                try store.restore(c, t, ref) match {
                  case Some(e) => respondJson(ex, 200,
                    s"""{"data":{"version":"${e.id}","dataOf":"${e.dataRef}"}}""")
                  case None => respondJson(ex, 200,
                    """{"data":"noop: HEAD already reads that version"}""")
                } catch {
                  case iae: IllegalArgumentException => notFound(ex, iae.getMessage)
                }
            }
        }

      case ("DELETE", Seq("collections", c, "tables", t)) =>
        if (store.deleteTable(c, t)) respondJson(ex, 200, """{"data":"deleted"}""")
        else notFound(ex, s"table not found: $c/$t")

      case ("GET", _) => notFound(ex, "no such endpoint")
      case (m, _) => respondError(ex, 405, s"method not allowed: $m")
    }
  }

  private def respondRuns(ex: HttpExchange, runs: Seq[ExecutionRecord]): Unit =
    respondData(ex)(data => runs.foreach(r => r.writeTo(data.addObject())))

  /** A 200 `{"data": [...]}` response whose array `fill` writes. */
  private def respondData(ex: HttpExchange)(fill: ArrayNode => Unit): Unit = {
    val root = TableStore.jsonMapper.createObjectNode()
    fill(root.putArray("data"))
    respondJson(ex, 200, TableStore.jsonMapper.writeValueAsString(root))
  }

  private def scanAt(c: String, t: String, q: Map[String, String]): Option[DataFrame] =
    store.scan(TableRef.parse(t, c), q.get("at").map(_.toLong)).map(_.df)

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** An `{"error": msg}` response. The message is written as an escaped
    * JSON string, so a quote or backslash in the user input it embeds
    * (a path segment, a query value) cannot make the body malformed. */
  private def respondError(ex: HttpExchange, code: Int, msg: String): Unit = {
    val n = TableStore.jsonMapper.createObjectNode()
    n.put("error", Option(msg).getOrElse("(no message)"))
    respondJson(ex, code, TableStore.jsonMapper.writeValueAsString(n))
  }

  private def notFound(ex: HttpExchange, what: String): Unit = respondError(ex, 404, what)

  private def respondJson(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    Using.resource(ex.getResponseBody)(_.write(bytes))
  }

  /** `df` as one parquet file, written by one task into a temp dir
    * ([[Bridge.writeParquet]], no committer): the whole table streams
    * through that task and never gathers on the driver as rows. */
  private def singleFileParquet(df: DataFrame): Array[Byte] = {
    val tmp = Files.createTempDirectory("graft-api-parquet")
    try {
      val part = Bridge.writeParquet(df.coalesce(1), tmp.toString, Nil).files.headOption
        .getOrElse(throw new IllegalStateException("no parquet part written"))
      Files.readAllBytes(tmp.resolve(part))
    } finally TableStore.deleteTree(tmp)
  }

  /** A 200 response whose body is one parquet file: `sample` encodes it
    * in one Spark task ([[Bridge.sliceParquet]]), `download` reads it back
    * from a one-task write ([[singleFileParquet]]). */
  private def respondParquet(ex: HttpExchange, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/vnd.apache.parquet")
    ex.sendResponseHeaders(200, bytes.length)
    Using.resource(ex.getResponseBody)(_.write(bytes))
  }
}
