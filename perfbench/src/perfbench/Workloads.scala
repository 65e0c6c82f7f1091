package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.core.{SystemColumns, TableFrame}
import graft.flow.{FlowContext, FlowEngine}
import graft.store.TableStore

/** What a workload's flow functions call back into: the user-function span
  * (which also tags the trigger's Spark jobs) and the timed sink write. */
trait Hooks {
  def userFn(name: String, publisher: Boolean)(body: Long => Seq[TableFrame]): Seq[TableFrame]
  def sinkWrite(parent: Long, path: String, df: DataFrame): Unit
}

/** One benchmark workload: the flow it registers, the history it seeds, the
  * catalog reads that race its triggers, and the expected subscriber
  * output for every trigger.
  *
  * Every workload is publisher → transformer(s) → subscriber, triggered over
  * HTTP by one closed-loop client, with `readers` closed-loop catalog
  * readers beside it, so every layer is measured on every workload. The
  * subscriber writes trigger `seq`'s output to `<sink>/<seq>/<table>`. */
abstract class Workload(val name: String) {
  val collection: String
  /** The publisher each trigger executes. */
  val trigger: String
  /** Function name → role, for every function one trigger runs. */
  val roles: Map[String, String]
  val subscriber: String
  val exportTables: Seq[String]
  val readers: Int
  val readTables: Seq[String]
  /** Read by `sample?len=20`: must hold at least 20 rows at HEAD. */
  val sampleTable: String
  /** Every n-th read of a reader is a `sample`; 0 means the trigger client
    * reads one `sample` after each trigger instead, so that no Spark-backed
    * read overlaps a trigger. */
  val readerSampleEvery: Int
  /** The table whose history the direct store calls walk. */
  val deepTable: String

  def inputs: Inputs
  def register(engine: FlowEngine, hooks: Hooks, sink: Path): Unit
  def seedHistory(store: TableStore): Unit = ()
  /** Expected digest of `table` as exported by triggers `0 until n`. */
  def expected(table: String, n: Long): Map[Long, Digest]

  protected def user(tf: TableFrame): DataFrame =
    tf.df.select(SystemColumns.userColumns(tf.df).map(c => F.col(s"`$c`")): _*)

  protected def seq(ctx: FlowContext): Long = {
    val s = ctx.offsets.getOrElse("seq", "0").toLong
    ctx.setOffset("seq", (s + 1).toString)
    s
  }

  protected def export(hooks: Hooks, sink: Path, ctx: FlowContext): Seq[TableFrame] =
    hooks.userFn(subscriber, publisher = false) { span =>
      val s = seq(ctx)
      exportTables.zipWithIndex.foreach { case (t, i) =>
        hooks.sinkWrite(span, sink.resolve(s.toString).resolve(t).toString, user(ctx.input(i)))
      }
      Nil
    }
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: Path, seed: Long): Workload = name match {
    case "pubsub_small" => new PubsubSmall(spark, dir, seed)
    case "catalog_deep" => new CatalogDeep(spark, dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Per-trigger fixed costs over shallow history and small data: each trigger
  * appends the next 2,000 orders rows and runs two aggregates and an
  * export. */
final class PubsubSmall(spark: SparkSession, dir: Path, seed: Long)
    extends Workload("pubsub_small") {
  private val batchRows = 2000
  val inputs = new Inputs(spark, dir, seed, orderRows = 40000)
  private val firstBatch = Math.floorMod(seed, (inputs.orderRows / batchRows).toLong)

  val collection = "pubsub"
  val trigger = "ingest"
  val subscriber = "export"
  val roles = Map("ingest" -> "publisher", "by_day" -> "transformer",
    "by_status" -> "transformer", "export" -> "subscriber")
  val exportTables = Seq("by_day", "by_status")
  val readers = 1
  val readTables = Seq("orders", "by_day", "by_status")
  val sampleTable = "orders"
  val deepTable = "orders"
  val readerSampleEvery = 0

  def register(engine: FlowEngine, hooks: Hooks, sink: Path): Unit = {
    engine.publisher("ingest", collection, Seq("orders")) { ctx =>
      hooks.userFn("ingest", publisher = true) { _ =>
        Seq(TableFrame.fromDF(inputs.batch(firstBatch + seq(ctx), batchRows)))
      }
    }
    engine.transformer("by_day", collection, Seq("orders@HEAD"), Seq("by_day")) { ctx =>
      hooks.userFn("by_day", publisher = false) { _ =>
        Seq(TableFrame.fromDF(Plans.byDay(user(ctx.input(0)))))
      }
    }
    engine.transformer("by_status", collection, Seq("orders@HEAD~1..HEAD"),
        Seq("by_status")) { ctx =>
      hooks.userFn("by_status", publisher = false) { _ =>
        Seq(TableFrame.fromDF(Plans.byStatus(user(ctx.input(0)))))
      }
    }
    engine.subscriber("export", collection, exportTables)(ctx => export(hooks, sink, ctx))
  }

  def expected(table: String, n: Long): Map[Long, Digest] = {
    val current = (0L until n).map(s => (s, firstBatch + s))
    table match {
      case "by_day" =>
        Digest.byKey(Plans.byDay(inputs.batchesBySeq(current, batchRows), Seq("seq")), "seq")
      case "by_status" =>
        // HEAD~1..HEAD: the trigger's batch and the one before it
        val previous = (1L until n).map(s => (s, firstBatch + s - 1))
        Digest.byKey(Plans.byStatus(
          inputs.batchesBySeq(current ++ previous, batchRows), Seq("seq")), "seq")
    }
  }
}

/** Metadata reads against a deep history: `ledger` is seeded to `depth`
  * versions (two writes, then metadata-only restores), three readers query
  * its schema and version list, and the trigger client appends 50-row
  * versions to it, so appends race the reads. */
final class CatalogDeep(spark: SparkSession, dir: Path, seed: Long)
    extends Workload("catalog_deep") {
  private val depth = 800
  private val batchRows = 50
  val inputs = new Inputs(spark, dir, seed, orderRows = 30000)
  private val firstBatch = Math.floorMod(seed, (inputs.orderRows / batchRows).toLong)

  val collection = "catalog"
  val trigger = "append_ledger"
  val subscriber = "export_stats"
  val roles = Map("append_ledger" -> "publisher", "ledger_stats" -> "transformer",
    "export_stats" -> "subscriber")
  val exportTables = Seq("ledger_stats")
  val readers = 3
  val readTables = Seq("ledger")
  val sampleTable = "ledger"
  val readerSampleEvery = 20
  val deepTable = "ledger"

  override def seedHistory(store: TableStore): Unit = {
    store.write(collection, "ledger", inputs.batch(firstBatch, batchRows))
    store.write(collection, "ledger", inputs.batch(firstBatch + 1, batchRows))
    // each restore republishes HEAD~1's data: metadata only, no Spark job
    (2 until depth).foreach(_ => store.restore(collection, "ledger", "HEAD~1"))
  }

  def register(engine: FlowEngine, hooks: Hooks, sink: Path): Unit = {
    engine.publisher("append_ledger", collection, Seq("ledger")) { ctx =>
      hooks.userFn("append_ledger", publisher = true) { _ =>
        Seq(TableFrame.fromDF(inputs.batch(firstBatch + 2 + seq(ctx), batchRows)))
      }
    }
    engine.transformer("ledger_stats", collection, Seq("ledger@HEAD"),
        Seq("ledger_stats")) { ctx =>
      hooks.userFn("ledger_stats", publisher = false) { _ =>
        Seq(TableFrame.fromDF(Plans.byPriority(user(ctx.input(0)))))
      }
    }
    engine.subscriber("export_stats", collection, exportTables)(ctx => export(hooks, sink, ctx))
  }

  def expected(table: String, n: Long): Map[Long, Digest] =
    Digest.byKey(Plans.byPriority(inputs.batchesBySeq(
      (0L until n).map(s => (s, firstBatch + 2 + s)), batchRows), Seq("seq")), "seq")
}
