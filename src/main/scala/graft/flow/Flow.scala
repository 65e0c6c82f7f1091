package graft.flow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{SysCtx, TableFrame}
import graft.store.{TableRef, TableStore}

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
  */
final class FlowEngine(val store: TableStore, spark: SparkSession) {
  // copy-on-write under registerLock, so StoreApi's pool reads whole
  // snapshots; insertion order is the tie order of `plan`
  @volatile private var functions = VectorMap.empty[String, FlowFunction]
  private val registerLock = new Object
  private val runLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

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
    * function's lock, so plans that share functions cannot deadlock. */
  def runFunction(f: FlowFunction, executionId: String,
      executionTs: Long = System.currentTimeMillis()): Seq[(String, String)] =
    runLocks.computeIfAbsent(f.name, _ => new Object).synchronized {
      val t0 = System.currentTimeMillis()
      try {
        val out = runFunctionInner(f, executionId, executionTs)
        ExecutionLog.append(store.root, ExecutionRecord(executionId, f.name,
          f.collection, "done", executionTs, System.currentTimeMillis() - t0, None))
        out
      } catch { case e: Throwable =>
        // the failed run is journaled BEFORE the rethrow: the reference's
        // execution/function_run listing shows failures (status_utils), and
        // a crash between journal and offset write is at-least-once like the
        // offset path itself
        ExecutionLog.append(store.root, ExecutionRecord(executionId, f.name,
          f.collection, "failed", executionTs, System.currentTimeMillis() - t0,
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")))
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
    * Returns the function names in run order. */
  def trigger(name: String): Seq[String] = {
    val fs = functions
    require(fs.contains(name),
      s"no registered function '$name' (registered: ${fs.keys.mkString(", ")})")
    val order = plan(fs(name), fs.values.toSeq)
    val executionId = store.newId()
    val executionTs = System.currentTimeMillis() // the plan's triggered_on
    order.foreach(f => runFunction(f, executionId, executionTs))
    order.map(_.name)
  }

  /** Execution plan of a trigger: every function reachable from `root`
    * through output → trigger edges, in an order where each function runs
    * after every other in-plan function that writes a table it reads or is
    * triggered by — so a join downstream of two paths of unequal length
    * sees this execution's output of both (planner.rs:20-55). Ties keep
    * breadth-first discovery order. A dependency cycle fails before any
    * run, naming the functions it blocks. `fs` is the registry snapshot
    * the whole plan reads. */
  private def plan(root: FlowFunction,
      fs: Seq[FlowFunction]): Seq[FlowFunction] = {
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
    done.values.toSeq
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
    error: Option[String])

/** Append-only JSONL run journal in the store root — the library-side stand-in
  * for the reference server's execution bookkeeping. One line per function
  * run; an execution (one trigger) spans several lines sharing its id. */
object ExecutionLog {
  private def path(root: String) = Paths.get(root, "_executions", "log.jsonl")

  def append(root: String, r: ExecutionRecord): Unit = {
    val p = path(root)
    Files.createDirectories(p.getParent)
    val n = graft.store.TableStore.jsonMapper.createObjectNode()
    n.put("execution", r.execution).put("function", r.function)
      .put("collection", r.collection).put("status", r.status)
      .put("triggered_on", r.triggeredOn).put("duration_ms", r.durationMs)
    r.error.foreach(n.put("error", _))
    Files.writeString(p, graft.store.TableStore.jsonMapper.writeValueAsString(n) + "\n",
      StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  def read(root: String): Seq[ExecutionRecord] = {
    val p = path(root)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val n = graft.store.TableStore.jsonMapper.readTree(line)
        ExecutionRecord(n.get("execution").asText(), n.get("function").asText(),
          n.get("collection").asText(), n.get("status").asText(),
          n.get("triggered_on").asLong(), n.get("duration_ms").asLong(),
          Option(n.get("error")).map(_.asText()))
      }
  }
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
      val n = graft.store.TableStore.jsonMapper
        .readTree(Files.readString(p, StandardCharsets.UTF_8))
      val it = n.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
  }

  def save(root: String, fn: String, offsets: Map[String, String]): Unit = {
    if (offsets.isEmpty) return
    val p = path(root, fn)
    Files.createDirectories(p.getParent)
    val tmp = p.getParent.resolve(s".${fn}.tmp")
    val node = graft.store.TableStore.jsonMapper.createObjectNode()
    offsets.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    val body = graft.store.TableStore.jsonMapper.writeValueAsString(node)
    Files.writeString(tmp, body, StandardCharsets.UTF_8)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
