package graft.flow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.immutable.VectorMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Bridge

import graft.core.{SysCtx, TableFrame}
import graft.store.{MetaFiles, TableRef, TableStore}

/** The three function roles (reference:
  * client/td-sdk/tabsdata/_decorators.py:42,102,156). */
object Role extends Enumeration { val Publisher, Transformer, Subscriber = Value }

/** A registered pub/sub function.
  *
  * @param inputs    table refs (may carry `@HEAD~n` selectors) — empty for
  *                  publishers, whose data comes from a [[Source]]
  * @param outputs   table names this function produces (same collection)
  * @param triggerBy tables whose new versions trigger this function; None →
  *                  all input dependencies (reference: _decorators.py:59-62)
  */
final case class FlowFunction(
    name: String,
    collection: String,
    role: Role.Value,
    inputs: Seq[String],
    outputs: Seq[String],
    triggerBy: Option[Seq[String]],
    fn: FlowContext => Seq[TableFrame])

/** Per-run context handed to the user function: resolved input frames plus
  * incremental-offset state (reference: _io/plugin.py:260-300 offsets). */
final class FlowContext(
    val spark: SparkSession,
    val inputs: Seq[Option[TableFrame]],
    val offsets: Map[String, String],
    sink: mutable.Map[String, String]) {
  def input(i: Int): TableFrame = inputs(i).getOrElse(
    throw new NoSuchElementException(s"input $i not available"))
  /** Record an offset value persisted for the next run of this function. */
  def setOffset(key: String, value: String): Unit = sink(key) = value
}

/** In-process pub/sub engine: the function/table dependency DAG with
  * trigger propagation and transactional multi-table publication.
  *
  * Re-expresses the reference's execution planner (ExecutionGraph with
  * Output/Trigger/Dependency edges, server/libraries/td-objects/src/
  * execution/graph.rs:60-110; planning td-execution/src/planner.rs:20-55;
  * transactions ta-execution/src/transaction.rs:24-90): a trigger plans
  * every function its commits reach and runs them in dependency order, each
  * run's outputs published atomically through the store's transaction
  * marker.
  *
  * Functions of one plan with no path between them run at the same time,
  * as the reference's supervisor starts one worker per function work item
  * (td-supervisor/src/services/supervisor.rs); see [[trigger]] for the
  * rules. The runs beyond the calling thread's own go to one pool of
  * `defaultParallelism - 1` daemon helper threads per engine, created on
  * first use: none at `local[1]`, so there every plan runs one function
  * at a time on the calling thread.
  */
final class FlowEngine(val store: TableStore, spark: SparkSession) {
  // copy-on-write under registerLock, so StoreApi's pool reads whole
  // snapshots; insertion order is the tie order of `plan`
  @volatile private var functions = VectorMap.empty[String, FlowFunction]
  private val registerLock = new Object
  private val runLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  // a helper only runs a function, never waits on another helper, so
  // triggers sharing the pool cannot deadlock on it; idle helpers exit
  private val helperCount = spark.sparkContext.defaultParallelism - 1
  private lazy val helpers = {
    val p = new ThreadPoolExecutor(helperCount, helperCount, 60, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-flow-run"); t.setDaemon(true); t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  def register(f: FlowFunction): Unit = registerLock.synchronized {
    require(!functions.contains(f.name), s"function ${f.name} already registered")
    functions = functions.updated(f.name, f)
  }

  private def tables(f: FlowFunction, refs: Seq[String]): Seq[(String, String)] =
    refs.map { s => val r = TableRef.parse(s, f.collection); (r.collection, r.table) }.distinct

  private def outputTables(f: FlowFunction): Seq[(String, String)] =
    f.outputs.map(f.collection -> _)

  /** Registered function by name (for manual re-runs at a chosen cutoff). */
  def fn(name: String): FlowFunction = functions(name)

  /** Registered functions of one collection (reference:
    * apiserver.py `/collections/{c}/functions` list). */
  def functionsIn(collection: String): Seq[FlowFunction] =
    functions.values.toSeq.filter(_.collection == collection)

  def publisher(name: String, collection: String, outputs: Seq[String])(
      fn: FlowContext => Seq[TableFrame]): Unit =
    register(FlowFunction(name, collection, Role.Publisher, Nil, outputs, None, fn))

  def transformer(name: String, collection: String, inputs: Seq[String],
      outputs: Seq[String], triggerBy: Option[Seq[String]] = None)(
      fn: FlowContext => Seq[TableFrame]): Unit =
    register(FlowFunction(name, collection, Role.Transformer, inputs, outputs, triggerBy, fn))

  def subscriber(name: String, collection: String, inputs: Seq[String],
      triggerBy: Option[Seq[String]] = None)(
      fn: FlowContext => Seq[TableFrame]): Unit =
    register(FlowFunction(name, collection, Role.Subscriber, inputs, Nil, triggerBy, fn))

  /** Functions of `fs` triggered by a new version of `collection/table`. */
  private def dependents(fs: Seq[FlowFunction], collection: String,
      table: String): Seq[FlowFunction] =
    fs.filter { f =>
      val trig = f.triggerBy.getOrElse(f.inputs).map(s => TableRef.parse(s, f.collection))
      trig.exists(r => r.collection == collection && r.table == table)
    }

  /** Empty frame for a `None` output slot: previous HEAD's user schema if
    * the table exists, else zero user columns (system columns are stamped
    * at stage time either way). */
  private def emptyFrame(collection: String, table: String): TableFrame = {
    val schema = store.scan(s"$collection/$table") match {
      case Some(prev) => org.apache.spark.sql.types.StructType(
        prev.df.schema.filterNot(f => graft.core.SystemColumns.isSystem(f.name)))
      case None => org.apache.spark.sql.types.StructType(Nil)
    }
    TableFrame.fromRaw(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
  }

  /** Run one function: resolve inputs (at the execution's trigger-time
    * cutoff), execute, publish outputs atomically, persist offsets, return
    * the tables that got new versions.
    *
    * `executionTs` is the plan's `triggered_on` (version_resolver.rs:29-37):
    * relative selectors resolve against versions stamped at-or-before it,
    * and this run's own outputs are stamped with it — so a downstream
    * function in the same execution sees them, while versions committed by
    * unrelated later executions stay invisible to a re-run of this plan.
    *
    * Offsets are persisted after the commit: a crash between the two replays
    * the source against the old offset on the next run (at-least-once). The
    * replayed run writes a NEW version with the same rows — consumers
    * reading HEAD see the latest replay, not duplicated rows; only the
    * version history carries the duplicate. Exactly-once would need the
    * offset write inside the transaction marker.
    *
    * Runs of one function are serialized (StoreApi serves triggers from a
    * thread pool): two overlapping runs would load the same offsets and
    * publish the same increment twice. A run holds only its own
    * function's lock, so plans that share functions cannot deadlock.
    *
    * The journal line carries the run's start (`started_on`), so the
    * journal alone shows which runs of a trigger overlapped. */
  def runFunction(f: FlowFunction, executionId: String,
      executionTs: Long = System.currentTimeMillis()): Seq[(String, String)] =
    runLocks.computeIfAbsent(f.name, _ => new Object).synchronized {
      val t0 = System.currentTimeMillis()
      try {
        val out = runFunctionInner(f, executionId, executionTs)
        ExecutionLog.append(store.root, ExecutionRecord(executionId, f.name,
          f.collection, "done", executionTs, System.currentTimeMillis() - t0, None, Some(t0)))
        out
      } catch { case e: Throwable =>
        // the failed run is journaled BEFORE the rethrow: the reference's
        // execution/function_run listing shows failures (status_utils), and
        // a crash between journal and offset write is at-least-once like the
        // offset path itself
        ExecutionLog.append(store.root, ExecutionRecord(executionId, f.name,
          f.collection, "failed", executionTs, System.currentTimeMillis() - t0,
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"),
          Some(t0)))
        throw e
      }
    }

  private def runFunctionInner(f: FlowFunction, executionId: String,
      executionTs: Long): Seq[(String, String)] = {
    val offsets = Offsets.load(store.root, f.name)
    val sink = mutable.Map[String, String](offsets.toSeq: _*)
    val inputs = f.inputs.map(s =>
      store.scan(TableRef.parse(s, f.collection), Some(executionTs)))
    val ctx = new FlowContext(spark, inputs, offsets, sink)
    val results = f.fn(ctx)
    require(results.length == f.outputs.length,
      s"${f.name}: produced ${results.length} outputs, declared ${f.outputs.length}")
    // one transaction spanning all outputs (all-or-nothing publication);
    // a failure mid-stage aborts it — staged dirs are deleted, the
    // appended log entries stay invisible forever (their txn never commits)
    val txid = store.newId()
    val entries =
      try f.outputs.zip(results).map { case (table, tf0) =>
        // a null slot is the reference's `return None` (testing_resources
        // test_output_*_with_none): the table still gets a committed
        // version, but an empty one — schema carried over from the
        // previous HEAD so readers of the version range keep a stable shape
        val tf = Option(tf0).getOrElse(emptyFrame(f.collection, table))
        val ctx2 = SysCtx(executionId, txid, store.newId(),
          new java.sql.Timestamp(executionTs))
        (table, store.stageWrite(f.collection, table, tf.df, ctx2))
      } catch { case e: Throwable =>
        store.abortTransaction(txid)
        throw e
      }
    store.commitTransaction(txid)
    Offsets.save(store.root, f.name, sink.toMap)
    entries.map { case (t, _) => (f.collection, t) }
  }

  /** Manual trigger: run `name` and every function its commits reach, each
    * at most once per execution (the planner's once-per-plan semantics).
    * Returns the function names in plan order.
    *
    * The plan runs level by level: every function whose in-plan
    * dependencies have all committed starts together. The calling thread
    * runs the first of them in plan order itself, and the others run on
    * the engine's helper threads, at most `defaultParallelism - 1` at a
    * time (a wider level carries its rest over to the next). So a chain
    * never leaves the calling thread. A helper run carries the caller's
    * Spark local properties (job group, description, scheduler pool) and
    * active session as they were when the level started; what the run
    * sets there stays on its helper.
    *
    * Two functions of the plan that write the same table never overlap:
    * they run in plan order, so the table's versions commit in it.
    *
    * After a run fails no new run starts. Runs already in flight finish
    * and commit in their own transactions, and then the trigger rethrows
    * the failure of the earliest failed function in plan order. */
  def trigger(name: String): Seq[String] = {
    val fs = functions
    require(fs.contains(name),
      s"no registered function '$name' (registered: ${fs.keys.mkString(", ")})")
    val (order, waitsFor) = plan(fs(name), fs.values.toSeq)
    val executionId = store.newId()
    val executionTs = System.currentTimeMillis() // the plan's triggered_on
    val failed = new AtomicBoolean
    // the run's failure; None once it committed, or when it never started
    def run(f: FlowFunction): Option[Throwable] =
      if (failed.get) None
      else try { runFunction(f, executionId, executionTs); None }
      catch { case e: Throwable => failed.set(true); Some(e) }
    val committed = mutable.Set[String]()
    var pending = order
    while (pending.nonEmpty) {
      val level = pending.filter(f => waitsFor(f.name).forall(committed))
        .take(1 + helperCount)
      val helped = level.tail.map(f => Bridge.withThreadLocalsCaptured(spark, helpers)(run(f)))
      (run(level.head) +: helped.map(_.join())).flatten.headOption.foreach(e => throw e)
      committed ++= level.map(_.name)
      pending = pending.filterNot(f => committed(f.name))
    }
    order.map(_.name)
  }

  /** Execution plan of a trigger: every function reachable from `root`
    * through output → trigger edges, in an order where each function runs
    * after every other in-plan function that writes a table it reads or is
    * triggered by — so a join downstream of two paths of unequal length
    * sees this execution's output of both (planner.rs:20-55). Ties keep
    * breadth-first discovery order. A dependency cycle fails before any
    * run, naming the functions it blocks. `fs` is the registry snapshot
    * the whole plan reads.
    *
    * Returns the order and, per function, the in-plan functions it waits
    * for: those that write a table it reads or is triggered by, and those
    * earlier in the order that write a table it writes. */
  private def plan(root: FlowFunction,
      fs: Seq[FlowFunction]): (Seq[FlowFunction], Map[String, Set[String]]) = {
    val reached = mutable.LinkedHashMap[String, FlowFunction](root.name -> root)
    val queue = mutable.Queue[FlowFunction](root)
    while (queue.nonEmpty) {
      val f = queue.dequeue()
      for ((c, t) <- outputTables(f); d <- dependents(fs, c, t)
           if !reached.contains(d.name)) {
        reached(d.name) = d
        queue.enqueue(d)
      }
    }
    val discovered = reached.values.toVector
    val writers = discovered
      .flatMap(f => outputTables(f).map(_ -> f.name)).groupMap(_._1)(_._2)
    val waitsFor = discovered.map { f =>
      val read = tables(f, f.inputs ++ f.triggerBy.getOrElse(Nil))
      f.name -> (read.flatMap(writers.getOrElse(_, Nil)).toSet - f.name)
    }.toMap
    val done = mutable.LinkedHashMap[String, FlowFunction]()
    def ready = discovered.find(f =>
      !done.contains(f.name) && waitsFor(f.name).forall(done.contains))
    var next = ready
    while (next.isDefined) {
      done(next.get.name) = next.get
      next = ready
    }
    val blocked = discovered.filterNot(f => done.contains(f.name))
    require(blocked.isEmpty, "dependency cycle in the trigger plan of " +
      s"'${root.name}': ${blocked.map(_.name).mkString(", ")} cannot be ordered")
    val order = done.values.toVector
    (order, order.zipWithIndex.map { case (f, i) =>
      val outs = outputTables(f).toSet
      f.name -> (waitsFor(f.name) ++
        order.take(i).filter(g => outputTables(g).exists(outs)).map(_.name))
    }.toMap)
  }
}

/** One function run in the execution journal (reference models this as a
  * `function_run` row in the server metadata DB — api/apiserver.py
  * `/function_runs`, `/executions`, `/collections/{c}/functions/{f}/history`). */
final case class ExecutionRecord(
    execution: String,
    function: String,
    collection: String,
    status: String, // done | failed
    triggeredOn: Long,
    durationMs: Long,
    error: Option[String],
    startedOn: Option[Long]) { // epoch ms at run start; absent from older lines

  /** Fills `n` with the record's fields: one journal line, and one element
    * of the `/function_runs` and `history` answers. */
  def writeTo(n: ObjectNode): ObjectNode = {
    n.put("execution", execution).put("function", function)
      .put("collection", collection).put("status", status)
      .put("triggered_on", triggeredOn).put("duration_ms", durationMs)
    error.foreach(n.put("error", _))
    startedOn.foreach(n.put("started_on", _))
    n
  }
}

object ExecutionRecord {
  /** The inverse of [[ExecutionRecord.writeTo]]. */
  def from(n: JsonNode): ExecutionRecord =
    ExecutionRecord(n.get("execution").asText(), n.get("function").asText(),
      n.get("collection").asText(), n.get("status").asText(),
      n.get("triggered_on").asLong(), n.get("duration_ms").asLong(),
      Option(n.get("error")).map(_.asText()), Option(n.get("started_on")).map(_.asLong()))
}

/** Append-only JSONL run journal in the store root — the library-side stand-in
  * for the reference server's execution bookkeeping. One line per function
  * run; an execution (one trigger) spans several lines sharing its id. */
object ExecutionLog {
  private def path(root: String) = Paths.get(root, "_executions", "log.jsonl")

  // one incremental index per journal, shared by every engine and server
  // of the process: a read parses only the lines appended since the last.
  // It holds every record read, ~0.3 KB each plus its error text.
  private val index = new MetaFiles.Indexed[Vector[ExecutionRecord]](Vector.empty,
    (rs, line) => rs :+ ExecutionRecord.from(TableStore.jsonMapper.readTree(line)))

  /** Runs of one trigger finish concurrently; each line goes out in one
    * serialized write ([[MetaFiles.append]]). */
  def append(root: String, r: ExecutionRecord): Unit = {
    val mapper = TableStore.jsonMapper
    MetaFiles.append(path(root), Seq(mapper.writeValueAsString(r.writeTo(mapper.createObjectNode()))))
  }

  /** The complete lines' records, read through the journal's LogIndex:
    * an unterminated last line (an append in progress, or one cut short by
    * a crash) is skipped, and a replaced journal is re-read whole. */
  def read(root: String): Seq[ExecutionRecord] = index.read(path(root))
}

/** Per-function offset state: a tiny JSON map in the store, written by
  * atomic rename (reference: _tabsserver/function/offset_utils.py:42-280). */
object Offsets {
  private def path(root: String, fn: String) = Paths.get(root, "_offsets", s"$fn.json")

  def load(root: String, fn: String): Map[String, String] = {
    val p = path(root, fn)
    if (!Files.exists(p)) Map.empty
    else {
      // real JSON parse (same reasoning as the store's version log): a
      // regex scrape breaks on escaped quotes in offset values
      val n = TableStore.jsonMapper.readTree(Files.readString(p, StandardCharsets.UTF_8))
      val it = n.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
  }

  def save(root: String, fn: String, offsets: Map[String, String]): Unit = {
    if (offsets.isEmpty) return
    val node = TableStore.jsonMapper.createObjectNode()
    offsets.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    MetaFiles.publish(path(root, fn), TableStore.jsonMapper.writeValueAsString(node))
  }
}
