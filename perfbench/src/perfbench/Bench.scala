package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.core.TableFrame
import graft.flow.{ExecutionLog, FlowEngine, Offsets}
import graft.server.StoreApi
import graft.sources.FileSink
import graft.store.{TableRef, TableStore, Version}

/** Loopback HTTP client of one [[StoreApi]]. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private def send(b: HttpRequest.Builder): (Int, Array[Byte]) = {
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }
  private def at(path: String) = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
  def get(path: String): (Int, Array[Byte]) = send(at(path).GET())
  def post(path: String): (Int, Array[Byte]) = send(at(path).POST(HttpRequest.BodyPublishers.noBody()))
}

/** One timed operation of the measured window. `kind` is `trigger`,
  * `schema`, `data_versions` or `sample`; `traced` tells whether tracing
  * was on when it started. */
final case class Op(kind: String, trigger: Long, startUs: Long, endUs: Long, ok: Boolean,
    traced: Boolean) {
  def ms: Double = (endUs - startUs) / 1000.0
  def metadata: Boolean = kind == "schema" || kind == "data_versions"
}

final case class Window(startUs: Long, endUs: Long, ops: Seq[Op]) {
  def seconds: Double = (endUs - startUs) / 1e6
  def startMs: Long = startUs / 1000
  def endMs: Long = endUs / 1000
  def triggers: Seq[Op] = ops.filter(_.kind == "trigger")
  def ms(p: Op => Boolean): Seq[Double] = ops.filter(o => o.ok && p(o)).map(_.ms)
  def traced(on: Boolean): Window = copy(ops = ops.filter(_.traced == on))
}

/** A store, its flow engine and its HTTP server, set up once. */
final class Env(val root: Path, val sink: Path, val store: TableStore, val api: StoreApi,
    val http: Http) {
  /** Trigger-time cutoff taken at the end of set-up, and what every read
    * at or before it must see. */
  var cutoff = 0L
  /** Bytes under the root per row of its data-owning versions, at the end
    * of set-up: a fixed number of versions, however many the window fits. */
  var bytesPerRow = 0.0
  val cutoffIds = mutable.Map[String, Seq[String]]()
  val fields = mutable.Map[String, Seq[(String, String)]]()
}

/** Runs one workload: set-up (several times; the median is `setup_s`), the
  * measured window (traced on every other trigger when tracing), and the
  * checks. */
final class Bench(spark: SparkSession, w: Workload, seed: Long, seconds: Int,
    trace: Boolean, work: Path) extends Hooks {
  private val json = new ObjectMapper()
  private val tracer = new Tracer
  private val probe = new SparkProbe
  private val triggerIds = new AtomicLong()
  private val problems = new ConcurrentLinkedQueue[String]()
  private val SetupRounds = 3
  /** Triggers each set-up runs before the window: JIT and codegen warm-up.
    * Trigger latency still drifts down after these, by ~20 % over a window;
    * more would lengthen every run's set-up. */
  private val WarmupTriggers = 3

  private def problem(msg: String): Unit = { problems.add(msg); System.err.println(s"CHECK FAILED: $msg") }

  // ---- hooks called from the workload's flow functions ----

  def userFn(name: String, publisher: Boolean)(body: Long => Seq[TableFrame]): Seq[TableFrame] = {
    val trig = tracer.trigger
    if (publisher)
      spark.sparkContext.setJobGroup(s"pbt-$trig", s"trigger $trig", interruptOnCancel = false)
    tracer.span(s"flow.user_fn.$name", trig, tracer.triggerSpan)(body)
  }

  def sinkWrite(parent: Long, path: String, df: DataFrame): Unit =
    tracer.span("sources.sink_write", tracer.trigger, parent)(_ => FileSink(path).write(df))

  // ---- set-up ----

  private def coll = w.collection

  private def setup(round: Int): Env = {
    val root = work.resolve(s"store-$round")
    val store = new TableStore(root.toString, spark)
    val engine = new FlowEngine(store, spark)
    val sink = work.resolve(s"sink-$round")
    w.register(engine, this, sink)
    w.seedHistory(store)
    val api = new StoreApi(store, Some(engine))
    api.start()
    val env = new Env(root, sink, store, api, new Http(api.boundPort))
    (0 until WarmupTriggers).foreach { _ =>
      if (!triggerOnce(env).ok) problem(s"set-up trigger failed (round $round)")
    }
    env.cutoff = System.currentTimeMillis()
    env.bytesPerRow = treeBytes(root).toDouble / dataVersions(env).map(_.rows).sum
    w.readTables.foreach { t =>
      env.cutoffIds(t) = store.versions(coll, t).map(_.id)
      env.fields(t) = store.schema(TableRef.parse(t, coll)).get.fields.toSeq
        .map(f => (f.name, f.dataType.typeName))
    }
    // warm the read paths once, checked like any window read
    val rng = new scala.util.Random(seed)
    (0 until 4).foreach(i => read(env, rng, i, 0))
    read(env, rng, -1, 0)
    Thread.sleep(2) // every later version is stamped after the cutoff
    env
  }

  // ---- operations ----

  private def triggerOnce(env: Env): Op = {
    val id = triggerIds.incrementAndGet()
    tracer.trigger = id
    tracer.triggerSpan = tracer.newId()
    val t0 = Clock.nowUs
    val ok =
      try {
        val (code, body) = env.http.post(s"/collections/$coll/functions/${w.trigger}/execute")
        val ran = if (code == 200) json.readTree(body).get("data").elements().asScala
          .map(_.asText()).toSet else Set.empty[String]
        if (code == 200 && ran != w.roles.keySet)
          problem(s"trigger $id ran ${ran.mkString(",")}, expected ${w.roles.keys.mkString(",")}")
        code == 200
      } catch { case e: Exception =>
        System.err.println(s"trigger $id: $e"); false
      }
    val t1 = Clock.nowUs
    tracer.record(Span(tracer.triggerSpan, 0, id, "client.trigger", t0, t1))
    Op("trigger", id, t0, t1, ok, tracer.enabled)
  }

  /** The read mix: request `i` of a reader is a `sample?len=20` when
    * the workload's `readerSampleEvery` divides `i + 1`; otherwise schema at
    * HEAD, at HEAD~k, at HEAD~k as of the set-up cutoff, or the version
    * list, chosen by `rng`. `i = -1` asks for a sample. */
  private def read(env: Env, rng: scala.util.Random, i: Int, reader: Int): Op = {
    val every = w.readerSampleEvery
    val (kind, path, check) =
      if (i < 0 || every > 0 && (i + 1) % every == 0) {
        val t = w.sampleTable
        ("sample", s"/collections/$coll/tables/$t/sample?len=20", checkSample(env, reader) _)
      } else {
        val t = w.readTables(rng.nextInt(w.readTables.size))
        val k = rng.nextInt(env.cutoffIds(t).size)
        val base = s"/collections/$coll/tables/$t"
        rng.nextInt(4) match {
          case 0 => ("schema", s"$base/schema", checkSchema(env, t) _)
          case 1 => ("schema", s"$base@HEAD~$k/schema", checkSchema(env, t) _)
          case 2 => ("schema", s"$base@HEAD~$k/schema?at=${env.cutoff}", checkSchema(env, t) _)
          case _ => ("data_versions", s"$base/data-versions", checkVersions(env, t) _)
        }
      }
    val traced = tracer.enabled
    val t0 = Clock.nowUs
    val resp =
      try Some(env.http.get(path))
      catch { case e: Exception => System.err.println(s"GET $path: $e"); None }
    val t1 = Clock.nowUs
    tracer.record(Span(tracer.newId(), 0, 0, s"server.$kind", t0, t1))
    val ok = resp.exists { case (code, body) =>
      if (code != 200) { System.err.println(s"GET $path: HTTP $code ${new String(body)}"); false }
      else {
        check(body).foreach(m => problem(s"GET $path: $m"))
        true
      }
    }
    Op(kind, 0, t0, t1, ok, traced)
  }

  private def checkSchema(env: Env, t: String)(body: Array[Byte]): Option[String] = {
    val got = json.readTree(body).get("data").get("fields").elements().asScala
      .map(f => (f.get("name").asText(), f.get("type").asText())).toSeq
    if (got == env.fields(t)) None else Some(s"schema $got != ${env.fields(t)}")
  }

  private def checkVersions(env: Env, t: String)(body: Array[Byte]): Option[String] = {
    val ids = json.readTree(body).get("data").elements().asScala
      .filter(_.get("created_at").asLong() <= env.cutoff).map(_.get("id").asText()).toSeq
    if (ids == env.cutoffIds(t)) None
    else Some(s"${ids.size} versions as of the cutoff, expected ${env.cutoffIds(t).size}")
  }

  private def checkSample(env: Env, reader: Int)(body: Array[Byte]): Option[String] = {
    val f = work.resolve(s"sample-$reader.parquet")
    Files.write(f, body)
    val rows = Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(f)))(_.getRecordCount)
    if (rows == 20) None else Some(s"sample returned $rows rows, expected 20")
  }

  // ---- the measured window ----

  /** Runs the trigger client and the readers for `seconds`. With
    * `interleave`, tracing is switched on for every other trigger (and for
    * the reads that start meanwhile), so one window yields both the traced
    * numbers and the untraced ones they are compared with. */
  private def window(env: Env, interleave: Boolean): Window = {
    val start = Clock.nowUs
    val deadline = start + seconds * 1000000L
    val reads = new ConcurrentLinkedQueue[Op]()
    val readers = (0 until w.readers).map { r =>
      val t = new Thread(() => {
        val rng = new scala.util.Random(seed * 1000 + r)
        var i = 0
        while (Clock.nowUs < deadline) { reads.add(read(env, rng, i, r)); i += 1 }
      }, s"perfbench-reader-$r")
      t.start(); t
    }
    val triggers = mutable.ArrayBuffer[Op]()
    while (Clock.nowUs < deadline) {
      if (interleave) tracer.enabled = triggers.size % 2 == 1
      triggers += triggerOnce(env)
      if (w.readerSampleEvery == 0) reads.add(read(env, null, -1, w.readers))
    }
    tracer.enabled = false
    readers.foreach(_.join())
    Window(start, Clock.nowUs, triggers.toSeq ++ reads.asScala)
  }

  /** Failed journal lines of executions triggered in the window. */
  private def journalFailures(env: Env, win: Window): Int =
    ExecutionLog.read(env.root.toString)
      .filter(r => r.triggeredOn >= win.startMs && r.triggeredOn <= win.endMs)
      .filter(_.status != "done").map(_.execution).distinct.size

  private def failures(env: Env, win: Window): Int = {
    val failedTriggers = win.triggers.count(!_.ok)
    failedTriggers.max(journalFailures(env, win)) + win.ops.count(o => !o.ok && o.kind != "trigger")
  }

  // ---- end-to-end metrics ----

  private def dataVersions(env: Env) =
    env.store.listTables(coll).flatMap(t => env.store.versions(coll, t)).filter(_.dataOf.isEmpty)

  private def deleteTree(p: Path): Unit =
    Using.resource(Files.walk(p))(_.iterator().asScala.toSeq.reverse.foreach(Files.delete))

  private def treeBytes(p: Path): Long =
    Using.resource(Files.walk(p))(_.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum)

  private def endToEnd(env: Env, win: Window, setupS: Double): Seq[(String, Double, String)] = {
    val runs = ExecutionLog.read(env.root.toString)
      .count(r => r.status == "done" && r.triggeredOn >= win.startMs && r.triggeredOn <= win.endMs)
    val rows = dataVersions(env)
      .filter(v => v.timestampMs >= win.startMs && v.timestampMs <= win.endMs)
      .map(_.rows).sum
    val trig = win.ms(_.kind == "trigger")
    val meta = win.ms(_.metadata)
    val sample = win.ms(_.kind == "sample")
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    Seq(
      ("setup_s", setupS, "s"),
      ("trigger_p50_ms", Stats.median(trig), "ms"),
      ("runs_per_s", runs / win.seconds, "1/s"),
      ("rows_per_s", rows / win.seconds, "1/s"),
      ("read_p50_ms", Stats.median(meta), "ms"),
      ("read_p90_ms", Stats.quantile(meta, 0.9), "ms"),
      ("reads_per_s", meta.size / win.seconds, "1/s"),
      ("sample_p50_ms", Stats.median(sample), "ms"),
      ("store_bytes_per_row", env.bytesPerRow, "B/row"),
      ("heap_live_mb", heapMb, "MB"))
  }

  // ---- per-layer metrics (traced window) ----

  private def timeCalls(name: String, n: Int)(call: => Any): Double =
    Stats.median((0 until n).map { _ =>
      val t0 = Clock.nowUs
      call
      val t1 = Clock.nowUs
      tracer.record(Span(tracer.newId(), 0, 0, name, t0, t1))
      (t1 - t0) / 1000.0
    })

  private def perLayer(env: Env, win: Window): Seq[(String, Double, String)] = {
    val traced = win.traced(true)
    val untraced = win.traced(false)
    org.apache.spark.sql.perfbenchshim.Shim.drain(spark.sparkContext)
    val spans = tracer.all
    val journal = ExecutionLog.read(env.root.toString)
      .filter(r => r.triggeredOn >= win.startMs && r.triggeredOn <= win.endMs)
    val jobs = probe.jobs.values.asScala.toSeq
      .filter(j => j.startMs >= win.startMs && j.startMs <= win.endMs)
    def jobsOf(op: Op) = jobs.filter(j => j.group == s"pbt-${op.trigger}" && j.startMs <= op.endUs / 1000)
    val triggers = traced.triggers.filter(_.ok)
    // per trigger: its journal lines, user-function spans and Spark jobs
    final case class T(op: Op, runs: Seq[graft.flow.ExecutionRecord], fns: Seq[Span],
        sinks: Seq[Span], jobs: Seq[JobRec])
    val ts = triggers.map { op =>
      val runs = journal.filter(r => r.triggeredOn >= op.startUs / 1000 && r.triggeredOn <= op.endUs / 1000)
      val mine = spans.filter(_.trigger == op.trigger)
      T(op, runs, mine.filter(_.name.startsWith("flow.user_fn.")),
        mine.filter(_.name == "sources.sink_write"), jobsOf(op))
    }
    ts.foreach { t =>
      val root = spans.find(s => s.name == "client.trigger" && s.trigger == t.op.trigger)
      t.jobs.foreach(j => tracer.record(Span(tracer.newId(), root.fold(0L)(_.id), t.op.trigger,
        "spark.job", j.startMs * 1000, math.max(j.endMs, j.startMs) * 1000)))
    }
    // every job of the window that no trigger, traced or not, ran is a sample's
    val triggerJobs = win.triggers.flatMap(jobsOf).map(_.jobId).toSet
    val samples = win.ops.count(o => o.ok && o.kind == "sample")
    def per(f: T => Double): Double = Stats.medianOr0(ts.map(f))
    def runMs(role: String) = Stats.medianOr0(ts.flatMap(_.runs)
      .filter(r => w.roles.get(r.function).contains(role)).map(_.durationMs.toDouble))
    def outsideFns(t: T)(j: JobRec) =
      !t.fns.exists(s => j.startMs * 1000 >= s.startUs && j.startMs * 1000 <= s.endUs)
    def httpMs(kind: String) = Stats.medianOr0(traced.ms(_.kind == kind))

    // direct store calls at the run's final depth
    val s = env.store
    val t = w.deepTable
    val depth = s.versions(coll, t).size
    val back = Version.Head(depth / 2)
    val schemaMs = timeCalls("store.schema", 15)(s.schema(TableRef.parse(t, coll)))
    val direct = Seq(
      ("store.versions_ms", timeCalls("store.versions", 15)(s.versions(coll, t)), "ms"),
      ("store.resolve_ms", timeCalls("store.resolve", 15)(s.resolveOne(coll, t, back)), "ms"),
      ("store.schema_ms", schemaMs, "ms"),
      ("store.scan_plan_ms", timeCalls("store.scan_plan", 15)(
        s.scan(TableRef.parse(s"$t@HEAD~1..HEAD", coll))), "ms"))
    val trig0 = Stats.median(untraced.ms(_.kind == "trigger"))
    val read0 = Stats.median(untraced.ms(_.metadata))
    direct ++ Seq(
      ("store.depth", depth.toDouble, "count"),
      ("store.log_bytes", Files.size(env.root.resolve(coll).resolve(t).resolve("_log.jsonl"))
        .toDouble, "B"),
      ("store.txn_markers", Using.resource(Files.list(env.root.resolve("_transactions")))(
        _.count()).toDouble, "count"),
      ("store.bytes_on_disk", treeBytes(env.root).toDouble, "B"),
      ("flow.run_ms.publisher", runMs("publisher"), "ms"),
      ("flow.run_ms.transformer", runMs("transformer"), "ms"),
      ("flow.run_ms.subscriber", runMs("subscriber"), "ms"),
      ("flow.user_fn_ms", per(_.fns.map(_.ms).sum), "ms"),
      ("flow.driver_ms", per(t => t.runs.map(_.durationMs).sum - t.fns.map(_.ms).sum -
        t.jobs.filter(outsideFns(t)).map(_.wallMs).sum), "ms"),
      ("flow.dispatch_ms", per(t => t.op.ms - t.runs.map(_.durationMs).sum), "ms"),
      ("flow.runs_per_trigger", per(_.runs.size.toDouble), "count"),
      ("server.schema_ms", httpMs("schema"), "ms"),
      ("server.data_versions_ms", httpMs("data_versions"), "ms"),
      ("server.sample_ms", httpMs("sample"), "ms"),
      ("server.execute_ms", httpMs("trigger"), "ms"),
      ("server.overhead_ms", httpMs("schema") - schemaMs, "ms"),
      ("sources.sink_write_ms", per(_.sinks.map(_.ms).sum), "ms"),
      ("spark.jobs_per_trigger", per(_.jobs.size.toDouble), "count"),
      ("spark.stages_per_trigger", per(_.jobs.map(_.stages).sum.toDouble), "count"),
      ("spark.tasks_per_trigger", per(_.jobs.map(_.tasks).sum.toDouble), "count"),
      ("spark.plan_ms_per_trigger", per(_.jobs.map(_.sqlExecution).distinct
        .flatMap(e => Option(probe.planMs.get(e))).map(_.doubleValue).sum), "ms"),
      ("spark.job_wall_ms_per_trigger", per(_.jobs.map(_.wallMs).sum), "ms"),
      ("spark.executor_run_ms_per_trigger", per(_.jobs.map(_.runMs).sum.toDouble), "ms"),
      ("spark.executor_cpu_ms_per_trigger", per(_.jobs.map(_.cpuNs).sum / 1e6), "ms"),
      ("spark.shuffle_write_bytes_per_trigger", per(_.jobs.map(_.shuffleWriteBytes).sum.toDouble), "B"),
      ("spark.spill_bytes_per_trigger", per(_.jobs.map(_.spillBytes).sum.toDouble), "B"),
      ("spark.jobs_per_sample",
        if (samples == 0) 0.0 else jobs.count(j => !triggerJobs(j.jobId)).toDouble / samples, "count"),
      ("trace.overhead_trigger_p50_ms", Stats.median(traced.ms(_.kind == "trigger")) - trig0, "ms"),
      ("trace.overhead_read_p50_ms", Stats.median(traced.ms(_.metadata)) - read0, "ms"))
  }

  // ---- correctness ----

  private def verify(env: Env): Unit = {
    // every trigger's export equals the same plan run on the source rows
    val n = Offsets.load(env.root.toString, w.subscriber).getOrElse("seq", "0").toLong
    val dirs = Using.resource(Files.list(env.sink))(_.iterator().asScala
      .map(_.getFileName.toString.toLong).toSet)
    if (dirs != (0L until n).toSet) problem(s"export dirs ${dirs.toSeq.sorted} for $n runs")
    w.exportTables.foreach { t =>
      val paths = (0L until n).map(s => env.sink.resolve(s.toString).resolve(t).toString)
      val actual = Digest.byKey(spark.read.parquet(paths: _*)
        .withColumn("seq", F.regexp_extract(F.input_file_name(), s"/(\\d+)/$t/", 1)), "seq")
      val expected = w.expected(t, n)
      (0L until n).foreach { s =>
        if (actual.get(s) != expected.get(s))
          problem(s"export $t of trigger $s: ${actual.get(s)} != expected ${expected.get(s)}")
      }
    }
    // reads as of the set-up cutoff see exactly the set-up history
    w.readTables.foreach { t =>
      val base = s"/collections/$coll/tables/$t"
      val (code, body) = env.http.get(s"$base/data-versions")
      if (code != 200) problem(s"$t data-versions: HTTP $code")
      else checkVersions(env, t)(body).foreach(m => problem(s"$t: $m"))
      val d = env.cutoffIds(t).size
      val (oldest, _) = env.http.get(s"$base@HEAD~${d - 1}/schema?at=${env.cutoff}")
      val (beyond, _) = env.http.get(s"$base@HEAD~$d/schema?at=${env.cutoff}")
      if (oldest != 200 || beyond != 404)
        problem(s"$t as of the cutoff: HEAD~${d - 1} gave $oldest, HEAD~$d gave $beyond")
    }
    val issues = env.store.fsck()
    if (issues.nonEmpty) problem(s"fsck: ${issues.mkString("; ")}")
  }

  // ---- the run ----

  private def phase(name: String): Unit = System.err.println(f"perfbench: $name at " +
    f"${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  /** Returns the result line and a human-readable report. */
  def run(spansOut: Path): (String, String) = {
    phase("session started")
    w.inputs.generate()
    phase("inputs generated")
    val envs = (0 until SetupRounds).map { r =>
      val t0 = System.nanoTime()
      val env = setup(r)
      (env, (System.nanoTime() - t0) / 1e9)
    }
    val setupS = Stats.median(envs.map(_._2))
    phase(s"set up ${envs.map(_._2).mkString(", ")}")
    envs.init.foreach { case (e, _) => e.api.stop(); deleteTree(e.root) }
    val env = envs.last._1
    try {
      if (trace) spark.sparkContext.addSparkListener(probe)
      val win = window(env, interleave = trace)
      val metrics =
        if (trace) perLayer(env, win)
        else endToEnd(env, win, setupS)
      if (trace) tracer.write(spansOut)
      val (attempted, failed) = (win.ops.size, failures(env, win))
      phase("measured")
      verify(env)
      phase("verified")
      val res = json.createObjectNode()
      res.put("correct", problems.isEmpty).put("attempted", attempted).put("failed", failed)
      val ms = res.putObject("metrics")
      metrics.foreach { case (k, v, u) => ms.putObject(k).put("value", v).put("unit", u) }
      val report = new StringBuilder(s"workload ${w.name} seed $seed window ${seconds}s " +
        s"trace ${if (trace) 1 else 0}\n")
      metrics.foreach { case (k, v, u) => report ++= f"  $k%-40s $v%14.3f $u\n" }
      report ++= describeSamples(win)
      report ++= f"  error_rate ${failed.toDouble / attempted}%.4f ($failed of $attempted)\n"
      (json.writeValueAsString(res), report.toString)
    } finally env.api.stop()
  }

  private def describeSamples(win: Window): String = {
    val b = new StringBuilder
    Seq("trigger" -> ((o: Op) => o.kind == "trigger"), "read" -> ((o: Op) => o.metadata),
      "sample" -> ((o: Op) => o.kind == "sample")).foreach { case (name, p) =>
      val xs = win.ms(p)
      if (xs.nonEmpty) {
        val tail = Stats.tailPercentile(xs.size).map(q =>
          f"p$q%.1f ${Stats.quantile(xs, q / 100)}%.2f ms").getOrElse("no tail percentile")
        b ++= f"  $name%-8s n=${xs.size}%5d p50 ${Stats.median(xs)}%.2f ms, $tail\n"
        if (name == "trigger") b ++= xs.map(x => f"$x%.0f").mkString("    latencies ms: ", " ", "\n")
      }
    }
    b.toString
  }
}
