package graft.core

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types._

import graft.expressions.UuidV7

/** Provenance context for a function run — the constants stamped into the
  * `$td.ver.*` system columns (reference: _utils/tableframe/_constants.py:187-218;
  * execution context plumb-through _tabsserver/function/execution_utils.py). */
final case class SysCtx(
    execution: String,
    transaction: String,
    version: String,
    timestamp: java.sql.Timestamp) {
}

object SysCtx {
  def fresh(): SysCtx = {
    val rng = java.util.concurrent.ThreadLocalRandom.current()
    SysCtx(
      execution = UuidV7.next(rng),
      transaction = UuidV7.next(rng),
      version = UuidV7.next(rng),
      timestamp = new java.sql.Timestamp(System.currentTimeMillis()))
  }
}

/** System (provenance/versioning) columns in the reserved `$td.` namespace.
  *
  * Reference: _utils/tableframe/_constants.py:107,149-218 (column set +
  * inception policies) and _utils/tableframe/_common.py:24-147
  * (`add_system_columns` modes raw/sys/tab). The Spark design maintains these
  * as plain columns, touched **only at boundaries** (source wrap, sink store,
  * join/select fixups) per SURVEY §7.1 — no per-op rebuild, no custom
  * optimizer rule, nothing in the per-row hot path except the one UUIDv7
  * expression at store time.
  */
object SystemColumns {
  val Prefix = "$td."
  val Id = "$td.id"
  val Execution = "$td.ver.execution"
  val Transaction = "$td.ver.transaction"
  val Version = "$td.ver.version"
  val Timestamp = "$td.ver.timestamp"

  /** OSS required set (reference: extensions/python/td-lib/te_tableframe/
    * tabsdata/extensions/_tableframe/extension.py:33-46). */
  val Required: Seq[String] = Seq(Id, Execution, Transaction, Version, Timestamp)

  def isSystem(name: String): Boolean = name.startsWith(Prefix)

  def userColumns(df: DataFrame): Seq[String] = df.columns.toSeq.filterNot(isSystem)
  def systemColumns(df: DataFrame): Seq[String] = df.columns.toSeq.filter(isSystem)

  /** User column names may not enter the reserved namespace
    * (reference: _common.py:42-47). */
  def validateUserName(name: String): Unit =
    require(!isSystem(name), s"column name '$name' uses the reserved prefix $Prefix")

  private def valueFor(name: String, ctx: SysCtx) = name match {
    case Id          => UuidV7.uuidv7()
    case Execution   => F.lit(ctx.execution)
    case Transaction => F.lit(ctx.transaction)
    case Version     => F.lit(ctx.version)
    case Timestamp   => F.lit(ctx.timestamp).cast(TimestampType)
  }

  /** mode="raw": drop any present system columns and regenerate all
    * (fresh data at import, reference: _common.py:82-147). */
  def addRaw(df: DataFrame, ctx: SysCtx): DataFrame = stamp(df, ctx, _ => false)

  /** mode="tab": fill only missing system columns (table scan wrap). */
  def addTab(df: DataFrame, ctx: SysCtx): DataFrame = stamp(df, ctx, _ => true)

  /** mode="sys": apply inception policy at store time — `$td.id` REGENERATE,
    * `$td.ver.*` PROPAGATE-or-fill (reference: _constants.py:178-218). */
  def addSys(df: DataFrame, ctx: SysCtx): DataFrame = stamp(df, ctx, _ != Id)

  /** One projection: the user columns in order, then the system columns
    * sorted by name — each present one that `keep` accepts passes through,
    * every other Required one is generated by [[valueFor]], and any other
    * present one is dropped. `df` itself when that changes nothing. */
  private def stamp(df: DataFrame, ctx: SysCtx, keep: String => Boolean): DataFrame = {
    val (sys, user) = df.columns.toSeq.partition(isSystem)
    val kept = sys.filter(keep)
    val generated = Required.filterNot(kept.contains)
    if (generated.isEmpty && user ++ kept.sorted == df.columns.toSeq) df
    else df.select(user.map(quoted) ++ (kept ++ generated).sorted.map(n =>
      if (kept.contains(n)) quoted(n) else valueFor(n, ctx).as(n)): _*)
  }

  private def quoted(name: String) = F.col(s"`$name`")

  /** Column-order invariant: user columns first (original order), then system
    * columns sorted by name (reference: frame.py:2820-2840). */
  def arrange(df: DataFrame): DataFrame = {
    val (sys, user) = df.columns.toSeq.partition(isSystem)
    val ordered = user ++ sys.sorted
    if (ordered == df.columns.toSeq) df else df.select(ordered.map(quoted): _*)
  }

  /** Post-join fixup: drop right-side duplicated system columns (suffixed),
    * keep the left's (reference: extension.py:161-180, frame.py:1168-1173). */
  def assembleAfterJoin(df: DataFrame, suffix: String): DataFrame = {
    val rightSys = df.columns.filter(n => isSystem(n) && n.endsWith(suffix))
    arrange(df.drop(rightSys.toSeq: _*))
  }

}
