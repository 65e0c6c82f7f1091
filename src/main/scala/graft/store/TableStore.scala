package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ThreadLocalRandom

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Bridge

import graft.core.{SysCtx, SystemColumns, TableFrame}
import graft.expressions.UuidV7

/** One [[TableStore.fsck]] finding. `kind` ∈ missing-data / row-mismatch /
  * orphan-dir / staging-leak / staging-debris / pruned-residue. */
final case class FsckIssue(kind: String, collection: String, table: String,
  detail: String)

/** One committed table version (a line in the table's metadata log).
  * `schemaB64` carries the staged schema (base64 of `StructType.json`) so
  * readers never re-infer types — in particular hive partition-directory
  * values, which plain `spark.read.parquet` would re-type from the directory
  * names (string "01" → int 1). */
final case class VersionEntry(
    id: String,
    execution: String,
    transaction: String,
    timestampMs: Long,
    schemaHash: String,
    rows: Long,
    schemaB64: Option[String] = None,
    // data indirection for metadata-only RESTOREs: when set, this
    // version READS the named version's data directory instead of its
    // own (no dir exists under this entry's id). Absent for every
    // written version — old log lines parse unchanged.
    dataOf: Option[String] = None) {
  /** The version id whose data directory this entry reads. */
  def dataRef: String = dataOf.getOrElse(id)
  /** The staged schema, decoded once per distinct `schemaB64` text and
    * shared (see [[TableStore.sharedSchema]]). */
  def schema: Option[org.apache.spark.sql.types.StructType] =
    schemaB64.map(TableStore.sharedSchema(_).decoded)
}

/** Versioned, transactional Parquet table store.
  *
  * The Spark re-expression of the reference's storage model (SURVEY §1.5):
  * every function run writes new immutable versions at
  * `<root>/<collection>/<table>/<versionId>/` (reference URI shape
  * `.../e/<work>/r/<idx>.t`, _tabsserver/function/execution_utils.py:237-240)
  * with an append-only JSONL metadata log per table replacing the reference's
  * SQLite metadata DB (version_resolver.rs). Multi-table atomicity comes from
  * a transaction marker committed by atomic rename — versions belonging to
  * uncommitted transactions are invisible to readers (mirrors the
  * all-or-nothing publication of ta-execution/src/transaction.rs:24-90).
  *
  * Commit: a version's tasks write their part files straight into a
  * hidden staging dir, and the transaction commit's atomic move of that
  * dir is the only commit (see [[staged]]). There is no output committer,
  * so a version dir holds part files only, never `_SUCCESS` or
  * `_temporary`.
  *
  * Scale note: the *data* path is pure distributed Parquet I/O; only the
  * tiny metadata log is driver-side. On a real deployment the same layout
  * works on any Hadoop FS URI; the log commit then needs an FS with atomic
  * rename (HDFS/ABFS) or a small DB, same as every table-format metadata
  * layer.
  *
  * Metadata files: the logs and markers are read and written only through
  * [[MetaFiles]]. Lines are appended one write per batch of lines, and
  * appends are serialized within the process, so concurrent writers of one
  * table (restores, runs of two triggers) never interleave a long line.
  *
  * Metadata index: each instance keeps an in-memory index per table, so a
  * read pays for the log lines appended since its previous read, not for
  * the whole history (the execution journal, `_executions/log.jsonl`, is
  * the third indexed file; see [[graft.flow.ExecutionLog]]). The index
  * relies on this contract:
  *   - `_log.jsonl` and `_pruned.jsonl` are append-only, and each starts
  *     with a line carrying a unique version id. A file that is replaced
  *     (new file key or new first line, so a reused inode is caught) or
  *     shrinks is re-read whole; an in-place rewrite that keeps the first
  *     line at equal or greater length is not supported.
  *   - Transaction markers are never deleted, so the marker cache is
  *     positive-only: a transaction seen committed stays committed, and
  *     only entries not yet known to be committed cost a `Files.exists`.
  *   - Writers in other processes or other instances on the same root are
  *     picked up on the next read ([[deleteTable]] drops its table's
  *     index; another instance sees the replaced file).
  * Memory: about 0.5 KB per cached log entry, 0.1 KB per pruned id and
  * per transaction seen committed, a copy of each indexed file's first
  * line, plus one shared copy of each distinct staged schema (text and
  * decoded).
  */
final class TableStore(val root: String, spark: SparkSession) {
  private def tableDir(coll: String, table: String): Path = {
    TableStore.requireSafeName("collection", coll)
    TableStore.requireSafeName("table", table)
    Paths.get(root, coll, table)
  }
  private def logPath(coll: String, table: String): Path = tableDir(coll, table).resolve("_log.jsonl")
  private def txnDir: Path = Paths.get(root, "_transactions")

  def newId(): String = UuidV7.next(ThreadLocalRandom.current())

  // ---- metadata log ----
  // per-table incremental indexes over `_log.jsonl` / `_pruned.jsonl`
  // (see the class doc for the contract)
  private val logIndexes = new MetaFiles.Indexed[Vector[VersionEntry]](Vector.empty,
    (es, line) => es :+ parseEntry(line))
  private val prunedIndexes = new MetaFiles.Indexed[Set[String]](Set.empty, _ + _)

  private def readLog(coll: String, table: String): Vector[VersionEntry] =
    logIndexes.read(logPath(coll, table))

  // real JSON parse/render (Jackson ships with Spark) — a regex scrape
  // would mis-split the moment any string field carries an escaped quote
  private[graft] def parseEntry(line: String): VersionEntry = {
    val n =
      try TableStore.jsonMapper.readTree(line)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(s"corrupt log line: $line", e) }
    def str(k: String): String = {
      val v = n.get(k)
      if (v == null) throw new IllegalStateException(s"corrupt log line: $line")
      v.asText()
    }
    VersionEntry(str("id"), str("execution"), str("transaction"),
      str("ts").toLong, str("schemaHash"), str("rows").toLong,
      Option(n.get("schema")).map(s => TableStore.sharedSchema(s.asText()).b64),
      Option(n.get("dataOf")).map(_.asText()))
  }

  private[graft] def renderEntry(e: VersionEntry): String = {
    val n = TableStore.jsonMapper.createObjectNode()
    n.put("id", e.id).put("execution", e.execution)
      .put("transaction", e.transaction)
    n.put("ts", e.timestampMs)
    n.put("schemaHash", e.schemaHash)
    n.put("rows", e.rows)
    e.schemaB64.foreach(b => n.put("schema", b))
    e.dataOf.foreach(d => n.put("dataOf", d))
    TableStore.jsonMapper.writeValueAsString(n)
  }

  private def appendLog(coll: String, table: String, e: VersionEntry): Unit =
    MetaFiles.append(logPath(coll, table), Seq(renderEntry(e)))

  // ---- transactions ----
  private def txnMarker(txid: String): Path = txnDir.resolve(s"$txid.json")
  // transactions seen committed; positive-only, markers are never deleted
  private val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // staged version dirs awaiting their transaction's commit: txid → moves
  private val stagedMoves =
    scala.collection.mutable.Map.empty[String, List[(Path, Path)]]

  def commitTransaction(txid: String): Unit = {
    // publish data first: move each staged version dir into its final
    // location (dot-prefixed staging dirs are hidden from Spark's file
    // listing, so uncommitted data is invisible even to raw directory
    // globs, e.g. the store→stream bridge)
    stagedMoves.synchronized {
      stagedMoves.remove(txid).getOrElse(Nil).foreach { case (from, to) =>
        if (Files.exists(from)) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    MetaFiles.publish(txnMarker(txid), s"""{"txid":"$txid","status":"committed"}""")
    committed.add(txid)
  }
  def isCommitted(txid: String): Boolean = committed.contains(txid) || {
    val c = Files.exists(txnMarker(txid))
    if (c) committed.add(txid)
    c
  }

  /** Committed transaction ids, sorted by id (reference: apiserver.py
    * `/transactions` list). That is commit order only for the UUIDv7 ids of
    * [[SysCtx.fresh]]; [[writeIdempotent]]'s md5-hex ids sort by hash. */
  def listTransactions(): Seq[String] = {
    if (!Files.exists(txnDir)) Seq.empty
    else Using.resource(Files.list(txnDir))(_.iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).toSeq.sorted)
  }

  /** Committed (visible) versions, oldest → newest. `asOf` is the
    * trigger-time cutoff (epoch ms, inclusive): versions stamped after it
    * are invisible, so a function re-run against a past execution resolves
    * the same inputs the original plan saw (version_resolver.rs:29-37
    * resolves every selector "at" the execution's `triggered_on`).
    *
    * Served from the table's in-memory index: one stat and one read of
    * the first line each of `_log.jsonl` and `_pruned.jsonl` (the file's
    * identity check), a parse of only the complete lines
    * appended since the previous call (an unterminated last line is a
    * write in progress, invisible until its newline lands), and a
    * `Files.exists` only for entries not yet known to be committed.
    * Contract (see the class doc): both files are append-only, a replaced
    * or shrunk file is re-read whole, an in-place rewrite that keeps the
    * first line at equal or greater length is not supported; the marker cache is positive-only;
    * about 0.5 KB of memory per cached entry. */
  def versions(coll: String, table: String, asOf: Option[Long] = None): Seq[VersionEntry] = {
    val pruned = prunedIds(coll, table)
    readLog(coll, table).filter(e =>
      isCommitted(e.transaction) && asOf.forall(e.timestampMs <= _) &&
        !pruned(e.id))
  }

  // ---- retention ----
  private def prunedPath(coll: String, table: String): Path =
    tableDir(coll, table).resolve("_pruned.jsonl")

  private def prunedIds(coll: String, table: String): Set[String] =
    prunedIndexes.read(prunedPath(coll, table))

  /** Retention vacuum: physically delete all but the newest `keepLast`
    * committed versions of a table — the storage-lifecycle knob without
    * which a versioned 100 TB table grows monotonically (every publisher
    * run and every streaming micro-batch is a full version dir on disk).
    *
    * The metadata log stays append-only: pruned ids land in a `_pruned`
    * tombstone sidecar consulted by [[versions]], so HEAD/`HEAD~n`
    * selectors re-resolve over the survivors and a FIXED id that was
    * pruned fails resolution the same loud way a never-existed id does.
    * Tombstone first, then data deletion — a crash between the two leaves
    * an invisible orphan dir (re-vacuum removes it), never a visible
    * version with missing data. Returns the pruned version ids. */
  def vacuum(coll: String, table: String, keepLast: Int): Seq[String] =
    vacuumOlderThan(coll, table, Long.MaxValue, keepLast)

  /** Age-based retention: prune versions stamped BEFORE `cutoffMs` (epoch
    * ms, exclusive), always keeping the newest `keepLast` regardless of
    * age so the table never loses its HEAD lineage. Same tombstone-first
    * crash discipline as [[vacuum]]. */
  def vacuumOlderThan(coll: String, table: String, cutoffMs: Long,
      keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val prune = versions(coll, table).dropRight(keepLast)
      .filter(_.timestampMs < cutoffMs).map(_.id)
    if (prune.nonEmpty) MetaFiles.append(prunedPath(coll, table), prune)
    // a data dir stays alive while ANY surviving version reads it —
    // a [[restore]] entry references an OLDER id's directory, and
    // pruning that id must not strand the restored HEAD (the id stops
    // RESOLVING the moment it is tombstoned; only its bytes survive)
    val referenced = versions(coll, table).map(_.dataRef).toSet
    // every tombstoned id still on disk and unreferenced goes: the ids
    // just pruned, and those a crash between tombstone and deletion left
    prunedIds(coll, table).foreach { id =>
      val dir = tableDir(coll, table).resolve(id)
      if (!referenced(id) && Files.exists(dir)) TableStore.deleteTree(dir)
    }
    prune
  }

  // ---- write path ----
  /** Stage a new version's data (distributed parquet write; [[staged]]
    * says how it commits). Invisible until its transaction commits.
    * Returns the log entry to commit. `partitionBy` produces hive-style
    * partition directories inside the version, so downstream scans get
    * static partition pruning on those columns — the knob that matters
    * once a table is 100s of TB. */
  def stageWrite(coll: String, table: String, df: DataFrame, ctx: SysCtx,
      partitionBy: Seq[String] = Nil): VersionEntry =
    stageWrite(coll, table, df, ctx, partitionBy, appendLogEntry = true)

  private def stageWrite(coll: String, table: String, df: DataFrame, ctx: SysCtx,
      partitionBy: Seq[String], appendLogEntry: Boolean): VersionEntry = {
    val stamped = SystemColumns.addSys(df, ctx)
    val schemaHash = Integer.toHexString(df.schema.filterNot(f =>
      SystemColumns.isSystem(f.name)).map(f => (f.name, f.dataType.sql)).hashCode())
    val schemaB64 = java.util.Base64.getEncoder.encodeToString(
      stamped.schema.json.getBytes(StandardCharsets.UTF_8))
    staged(coll, table, stamped, ctx, partitionBy, appendLogEntry) { rows =>
      VersionEntry(ctx.version, ctx.execution, ctx.transaction,
        ctx.timestamp.getTime, schemaHash, rows, Some(schemaB64))
    }
  }

  /** The one staging path and the only commit. `data` is written as
    * version `ctx.version` by one Spark job ([[Bridge.writeParquet]]) whose
    * tasks put their part files straight into a dot-prefixed staging dir
    * (hidden from Spark listings) and report them with their row counts.
    * There is no output committer, no `_temporary` and no `_SUCCESS`: every
    * staged file no committed task reported (a failed or duplicate attempt's)
    * is deleted here, and the transaction commit's atomic move of the dir
    * is what publishes the version. `entry` makes the log entry from the
    * reported row count and may reject it by throwing: a failed write or a
    * rejected count deletes the staging dir before any move is registered,
    * so neither commit nor abort ever sees it. */
  private def staged(coll: String, table: String, data: DataFrame, ctx: SysCtx,
      partitionBy: Seq[String], appendLogEntry: Boolean)(
      entry: Long => VersionEntry): VersionEntry = {
    val dir = tableDir(coll, table).resolve(".staging").resolve(ctx.version)
    val e = try {
      // a retried version (writeIdempotent) replaces what a crash left
      if (Files.exists(dir)) TableStore.deleteTree(dir)
      Files.createDirectories(dir)
      val written = Bridge.writeParquet(data, dir.toString, partitionBy)
      TableStore.keepOnly(dir, written.files)
      entry(written.rows)
    } catch { case ex: Throwable =>
      if (Files.exists(dir)) TableStore.deleteTree(dir)
      throw ex
    }
    stagedMoves.synchronized {
      stagedMoves(ctx.transaction) = (dir, tableDir(coll, table).resolve(ctx.version)) ::
        stagedMoves.getOrElse(ctx.transaction, Nil)
    }
    if (appendLogEntry) appendLog(coll, table, e)
    e
  }

  /** Exactly-once write for a REPLAYABLE producer (streaming foreachBatch,
    * a retried job): the caller supplies a deterministic transaction id —
    * e.g. derived from (query name, micro-batch id) — and re-delivery of
    * the same unit of work becomes a no-op instead of a duplicate version.
    *
    * The idempotence scope is (collection, table, txid): the version id AND
    * the transaction marker are both md5(coll/table/txid), so two producers
    * reusing one txid against different tables each commit their own write
    * instead of the second silently no-opping (and any txid content is
    * filename-safe once hashed — the marker file and the store→stream glob
    * `[0-9a-f]*` both see a hex-leading name).
    *
    * Idempotence across every crash window:
    *   - txid already committed for this table → `None`, nothing touched
    *     (the normal foreachBatch re-delivery after a post-commit failure);
    *   - crashed between log append and commit → the retry finds the logged
    *     entry, re-stages the SAME version dir under the ORIGINAL entry's
    *     execution id and timestamp (so data stamps and log metadata agree),
    *     skips the duplicate log append, and the single entry becomes
    *     visible exactly once at commit;
    *   - crashed mid-staging → the partial staged dir is hidden under
    *     `.staging` and simply overwritten by the retry.
    *
    * The data path stays fully distributed (same staged parquet write as
    * [[stageWrite]]); only the txid/versionId derivation is new. */
  def writeIdempotent(coll: String, table: String, df: DataFrame,
      txid: String): Option[VersionEntry] = {
    val versionId = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$coll/$table/$txid".getBytes(StandardCharsets.UTF_8))
      d.map("%02x".format(_)).mkString
    }
    if (isCommitted(versionId)) None
    else {
      val prior = readLog(coll, table).find(_.id == versionId)
      val ctx = prior match {
        // retry of a log-appended-but-uncommitted attempt: reconstruct the
        // context from the logged entry so the re-staged data's
        // $td.execution/$td.timestamp stamps match the entry that will
        // become visible
        case Some(e) => SysCtx(e.execution, versionId, versionId,
          new java.sql.Timestamp(e.timestampMs))
        case None => SysCtx.fresh().copy(transaction = versionId, version = versionId)
      }
      val e = stageWrite(coll, table, df, ctx, Nil, appendLogEntry = prior.isEmpty)
      commitTransaction(versionId)
      Some(e)
    }
  }

  /** Abort a transaction: drop its staged version dirs from disk and the
    * pending-move map. The log entries it appended stay — they reference a
    * transaction that never commits, so `versions()` filters them out
    * forever (same tombstone shape as the reference's uncommitted
    * transactions). Without this, a failed run leaks its staged data under
    * `.staging/` indefinitely. */
  def abortTransaction(txid: String): Unit = {
    val moves = stagedMoves.synchronized { stagedMoves.remove(txid).getOrElse(Nil) }
    moves.foreach { case (from, _) =>
      if (Files.exists(from)) TableStore.deleteTree(from)
    }
  }

  /** Write one table in its own single-version transaction. */
  def write(coll: String, table: String, df: DataFrame): VersionEntry = {
    val ctx = SysCtx.fresh()
    val e = stageWrite(coll, table, df, ctx)
    commitTransaction(ctx.transaction)
    e
  }

  // ---- read path / version resolution (mirrors version_resolver.rs) ----
  def resolveOne(coll: String, table: String, v: Version,
      asOf: Option[Long] = None): Option[VersionEntry] = {
    val vs = versions(coll, table, asOf)
    v match {
      case Version.Head(back)       => vs.lift(vs.length - 1 - back)
      case Version.Initial(forward) => vs.lift(forward)
      case Version.Fixed(id)        => vs.find(_.id == id)
    }
  }

  /** Resolve a version selector set at an optional trigger-time cutoff.
    *
    * Reference parity (version_resolver.rs): a fixed id that doesn't resolve
    * is an error, not an empty result (:70-84 "We fail if fixed not found",
    * list variant :1016); a descending range yields no versions (:1336,
    * :1371), or an error when `errorOnDescRange` (:1930 InvalidRange). */
  def resolve(coll: String, table: String, versions0: Versions,
      asOf: Option[Long] = None, errorOnDescRange: Boolean = false): Seq[VersionEntry] = {
    def requireFixedFound(vs: Seq[Version], found: Seq[Option[VersionEntry]]): Unit = {
      val missing = vs.zip(found).collect {
        case (Version.Fixed(id), None) => id
      }
      if (missing.nonEmpty) throw new NoSuchElementException(
        s"fixed table data versions not found: ${missing.mkString(", ")}")
    }
    versions0 match {
      case Versions.Single(v) =>
        val r = resolveOne(coll, table, v, asOf)
        requireFixedFound(Seq(v), Seq(r))
        r.toSeq
      case Versions.VList(vs) =>
        val rs = vs.map(v => resolveOne(coll, table, v, asOf))
        requireFixedFound(vs, rs)
        rs.flatten
      case Versions.VRange(from, to) =>
        // Positional range semantics (version_resolver.rs:1291,1886): each
        // bound maps to a position in an index space that extends past both
        // ends of history (HEAD~5 over 2 versions is a virtual slot before
        // INITIAL). The reference returns one slot per position with None
        // where no version exists; flattened to data, that means a range is
        // the overlap of [from..to] with real history — NOT empty just
        // because one bound fell off the end.
        val vs = versions(coll, table, asOf)
        val m = vs.length
        def pos(v: Version): Option[Int] = v match {
          case Version.Head(back)       => Some(m - 1 - back)
          case Version.Initial(forward) => Some(forward)
          case Version.Fixed(id) =>
            vs.indexWhere(_.id == id) match { case -1 => None; case i => Some(i) }
        }
        (pos(from), pos(to)) match {
          case (Some(a), Some(b)) =>
            if (a <= b) vs.slice(math.max(a, 0), math.max(b + 1, 0))
            else if (errorOnDescRange) throw new IllegalArgumentException(
              s"invalid range: left version must be older than the right version ($versions0)")
            else Seq.empty
          case _ => Seq.empty
        }
    }
  }

  def pathOf(coll: String, table: String, e: VersionEntry): String =
    tableDir(coll, table).resolve(e.dataRef).toString

  /** RESTORE: republish an older version as the new HEAD without
    * touching data — the "bad publish, roll the table back" maintenance
    * op (the versioned-store analog of Delta RESTORE / Iceberg
    * rollback). Appends ONE metadata log line whose `dataOf` points at
    * the target's data directory (indirections chase to the ORIGINAL
    * writer, so chains never build), committed through the same
    * transaction marker as any publish; every selector keeps working —
    * the restored relation is `@HEAD`, the mistaken publish is
    * `@HEAD~1`. O(bytes) cost: zero. [[vacuum]] keeps a data directory
    * alive while ANY surviving version references it (see
    * [[vacuumOlderThan]]), so restoring then pruning the source id never
    * strands the new HEAD. Returns None when the target already IS
    * HEAD's data (a no-op restore). */
  def restore(coll: String, table: String, ref: String): Option[VersionEntry] = {
    val target = resolveOne(coll, table, Version.parse(ref))
      .getOrElse(throw new IllegalArgumentException(
        s"restore target not found: $coll/$table@$ref"))
    val head = versions(coll, table).lastOption
    if (head.exists(_.dataRef == target.dataRef)) None
    else {
      val ctx = SysCtx.fresh()
      val e = VersionEntry(ctx.version, ctx.execution, ctx.transaction,
        System.currentTimeMillis(), target.schemaHash, target.rows,
        target.schemaB64, dataOf = Some(target.dataRef))
      appendLog(coll, table, e)
      commitTransaction(ctx.transaction)
      Some(e)
    }
  }

  /** Compact the HEAD version's data files — maintenance for the
    * small-file problem (many tiny parquet files from a high-frequency
    * producer slow every later scan: task-per-file scheduling, footer
    * reads, no row-group locality). Rewrites HEAD's rows VERBATIM — all
    * columns including the `$td.*` stamps, because compaction is a
    * physical re-layout, not a new publish — into
    * max(1, ceil(bytes/targetBytes)) files via a narrow `coalesce` (no
    * shuffle), committed as a NEW version through the same staged-write
    * transaction as any publish; the old layout stays addressable at
    * `@HEAD~1` until [[vacuum]] prunes it. The row count the rewrite's
    * tasks report is checked against the source entry — a mismatch aborts
    * loudly before commit and leaves nothing staged.
    * Returns None when HEAD is already within the file budget.
    * Hive-partitioned versions are refused (their file budget is
    * per-partition; re-write those with `stageWrite(partitionBy)`). */
  def compact(coll: String, table: String,
      targetBytes: Long = 128L << 20): Option[VersionEntry] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val vs = versions(coll, table)
    require(vs.nonEmpty, s"no committed versions in $coll/$table")
    val e = vs.last
    val dir = java.nio.file.Paths.get(pathOf(coll, table, e))
    val parts = Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toVector)
    require(!parts.exists(_.getParent != dir),
      s"$coll/$table@HEAD is hive-partitioned — compact is per-partition there; " +
        "rewrite with stageWrite(partitionBy) instead")
    val totalBytes = parts.map(Files.size).sum
    val targetFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (parts.size <= targetFiles) None
    else {
      val schema = e.schema.getOrElse(spark.read.parquet(dir.toString).schema)
      val df = spark.read.schema(schema).parquet(dir.toString)
      val ctx = SysCtx.fresh()
      val ne = staged(coll, table, df.coalesce(targetFiles), ctx, Nil,
          appendLogEntry = true) { rows =>
        if (rows != e.rows) throw new IllegalStateException(
          s"compaction row mismatch for $coll/$table@${e.id}: ${e.rows} -> $rows")
        VersionEntry(ctx.version, ctx.execution, ctx.transaction,
          ctx.timestamp.getTime, e.schemaHash, rows, e.schemaB64)
      }
      commitTransaction(ctx.transaction)
      Some(ne)
    }
  }

  /** Scan a table reference; multiple versions union vertically. Returns a
    * TableFrame in mode="tab" (system columns preserved from storage).
    * Each version is read with its staged schema from the log, so hive
    * partition-directory values keep their written types instead of being
    * re-inferred from directory names. Versions may EVOLVE their schema
    * between publishes (the log's schema hash is change DETECTION, not a
    * constraint — the reference's store tolerates per-version schema
    * change the same way): a range scan aligns columns BY NAME and reads
    * a column absent from some version as NULL there, instead of failing
    * the union. A column that changes TYPE between versions still raises
    * (silently coercing values would corrupt, not evolve). */
  def scan(ref: TableRef): Option[TableFrame] = scan(ref, None)

  def scan(ref: TableRef, asOf: Option[Long]): Option[TableFrame] =
    scanMode(ref, asOf, relaxed = false)

  /** [[scan]] with RELAXED type evolution: a column whose type WIDENS
    * across the scanned versions (int32→int64, float→double, int→decimal
    * — the [[graft.core.Dtypes.superType]] lattice `concat
    * (how="vertical_relaxed")` already rides, reference
    * `tableframe/functions/eager.py:23-117`, `typing.py:23-28`) is read
    * by casting EVERY version to the least common supertype before the
    * union, instead of raising. The strict [[scan]] stays the default:
    * relaxed reads are an explicit opt-in because a cast can lose the
    * writer's declared type forever downstream. Lossy collisions
    * (long vs string, …) still unify through the same lattice — the
    * relaxed contract is "give me one coherent frame", exactly as the
    * reference's relaxed concat resolves them. */
  def scanRelaxed(ref: TableRef, asOf: Option[Long] = None): Option[TableFrame] =
    scanMode(ref, asOf, relaxed = true)

  def scanRelaxed(refStr: String): Option[TableFrame] =
    scanRelaxed(TableRef.parse(refStr))

  private def scanMode(ref: TableRef, asOf: Option[Long],
      relaxed: Boolean): Option[TableFrame] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val es = resolve(ref.collection, ref.table, ref.versions, asOf)
    if (es.isEmpty) return None
    if (es.size == 1) {
      // single version: nothing to align — read with the staged schema
      // (no guard, no footer I/O)
      val e = es.head
      val path = pathOf(ref.collection, ref.table, e)
      return Some(TableFrame.fromTable(e.schema match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None    => spark.read.parquet(path)
      }))
    }
    // per-version schema: the LOG's staged schema (no I/O), else the
    // parquet-inferred one — a schema-less version must still join the
    // retype guard, or a type change through it would slip past into
    // the silent-coercion/row-failure path the guard exists to stop
    val entrySchemas: Seq[(VersionEntry, StructType)] = es.map { e =>
      val s = e.schema.getOrElse(
        spark.read.parquet(pathOf(ref.collection, ref.table, e)).schema)
      (e, s)
    }
    // nullability relaxed for comparison: file sources relax it on read,
    // and a footer schema may disagree with the log's on nullable alone
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    entrySchemas.foreach { case (_, s) =>
      s.fields.foreach { f =>
        val t = TableStore.relaxNullability(f.dataType)
        seen.get(f.name) match {
          case Some(prev) if prev == t => ()
          case Some(prev) =>
            if (relaxed) seen(f.name) = graft.core.Dtypes.superType(prev, t)
            else throw new IllegalArgumentException(
              s"column '${f.name}' changes type across the scanned versions " +
                s"of ${ref.collection}/${ref.table} ($prev vs $t) — " +
                "a range scan aligns missing columns by name, it does not " +
                "retype values (scanRelaxed widens via the supertype lattice)")
          case None => seen(f.name) = t
        }
      }
    }
    val dfs = entrySchemas.map { case (e, s) =>
      val path = pathOf(ref.collection, ref.table, e)
      val df = spark.read.schema(s).parquet(path)
      if (!relaxed) df
      else df.select(s.fields.map { f =>
        val target = seen(f.name)
        val c = df.col(s"`${f.name}`")
        (if (TableStore.relaxNullability(f.dataType) == target) c
         else c.cast(target)).as(f.name)
      }.toIndexedSeq: _*)
    }
    Some(TableFrame.fromTable(
      dfs.reduce(_.unionByName(_, allowMissingColumns = true))))
  }

  def scan(refStr: String): Option[TableFrame] = scan(TableRef.parse(refStr))

  /** Table sample slice (reference: api/tabsdata_server.py:2476-2527);
    * `asOf` is the trigger-time cutoff the HTTP endpoint's `at=` maps to. */
  def sample(ref: TableRef, offset: Int, len: Int,
      asOf: Option[Long] = None): Option[DataFrame] =
    scan(ref, asOf).map(_.df.offset(offset).limit(len))

  /** Table schema from the version log alone (the reference serves its
    * schema endpoint from stored metadata the same way,
    * api/tabsdata_server.py:2476-2527) — O(1) driver-side, no parquet
    * footer reads, no Spark job: the shape a catalog/UI probe needs.
    * Multi-version refs report the newest resolved version's schema.
    * Reported `asNullable`: Spark file sources relax nullability on read,
    * so that is the shape a scan actually returns. */
  def schema(ref: TableRef, asOf: Option[Long] = None): Option[org.apache.spark.sql.types.StructType] =
    resolve(ref.collection, ref.table, ref.versions, asOf)
      .lastOption.flatMap(_.schema)
      .map(s => TableStore.relaxNullability(s).asInstanceOf[org.apache.spark.sql.types.StructType])

  def schema(refStr: String): Option[org.apache.spark.sql.types.StructType] =
    schema(TableRef.parse(refStr))

  // view name → (collection, table) it serves; names containing underscores
  // can collide across pairs (coll "a_b"/table "c" vs "a"/"b_c" both mangle
  // to "a_b_c") — registering a DIFFERENT pair under a taken name is an
  // error instead of a silent replace
  private val registeredViews =
    scala.collection.mutable.Map.empty[String, (String, String)]

  /** Register every table of a collection as a session temp view named
    * `<collection>_<table>` (resolved at HEAD, or at `asOf` when given), so
    * `spark.sql` can query the store directly — the SQL-side companion of
    * [[scan]]. Views capture the version resolved NOW: re-register after
    * new commits to advance, or keep the view for a frozen snapshot read.
    * Returns the view names created. Re-registering the same table replaces
    * its view; a name collision with a different (collection, table) pair
    * throws rather than silently shadowing the earlier view. */
  def registerViews(coll: String, asOf: Option[Long] = None): Seq[String] =
    listTables(coll).flatMap { t =>
      scan(TableRef.parse(t, coll), asOf).map { tf =>
        val view = s"${coll}_$t"
        registeredViews.synchronized {
          registeredViews.get(view) match {
            case Some(prev) if prev != ((coll, t)) =>
              throw new IllegalArgumentException(
                s"view name collision: '$view' already serves table " +
                s"'${prev._1}/${prev._2}', cannot also serve '$coll/$t'")
            case _ => registeredViews(view) = (coll, t)
          }
        }
        tf.df.createOrReplaceTempView(view)
        view
      }
    }

  /** Collections = first-level store directories (reference:
    * apiserver.py `/collections` list). */
  def listCollections(): Seq[String] = listDirs(Paths.get(root))

  /** Drop a table: data, version log, everything (reference:
    * apiserver.py:936-944 table_delete), and this instance's index of it.
    * Returns false if absent. */
  def deleteTable(coll: String, table: String): Boolean = {
    val d = tableDir(coll, table)
    if (!Files.exists(d)) false
    else {
      TableStore.deleteTree(d)
      logIndexes.drop(logPath(coll, table))
      prunedIndexes.drop(prunedPath(coll, table))
      true
    }
  }

  def listTables(coll: String): Seq[String] = {
    TableStore.requireSafeName("collection", coll)
    listDirs(Paths.get(root, coll))
  }

  /** Store integrity check (fsck): walks every table and reports, per
    * issue kind:
    *   - `missing-data`    — a committed version whose data dir is gone
    *     (the scan-breaking corruption; vacuum tombstones are NOT this);
    *   - `row-mismatch`    — committed data whose parquet row count
    *     disagrees with the version log (only with `verifyCounts`, which
    *     costs one count job per version);
    *   - `orphan-dir`      — an on-disk version dir no log entry names;
    *   - `staging-leak`    — a `.staging` child whose transaction IS
    *     committed (the move never happened — readers see a committed
    *     version with its data still hidden);
    *   - `staging-debris`  — a `.staging` child of an uncommitted
    *     transaction (crashed or in-flight run; harmless but unswept);
    *   - `pruned-residue`  — a vacuum-tombstoned version still on disk
    *     (crash between tombstone and delete; the next vacuum sweeps it).
    * Read-only: fsck REPORTS, the caller decides (re-publish, vacuum,
    * delete) — the split any 100 TB ops runbook wants. */
  def fsck(verifyCounts: Boolean = false): Seq[FsckIssue] = {
    val issues = Seq.newBuilder[FsckIssue]
    for (coll <- listCollections(); table <- listTables(coll)) {
      val dir = tableDir(coll, table)
      val log = readLog(coll, table)
      val byId = log.map(e => e.id -> e).toMap
      val pruned = prunedIds(coll, table)
      versions(coll, table).foreach { e =>
        // a restore entry reads an older id's directory (dataRef)
        val vd = dir.resolve(e.dataRef)
        if (!Files.exists(vd))
          issues += FsckIssue("missing-data", coll, table,
            s"committed version ${e.id} has no data dir")
        else if (verifyCounts) {
          val n = spark.read.parquet(vd.toString).count()
          if (n != e.rows)
            issues += FsckIssue("row-mismatch", coll, table,
              s"version ${e.id}: log says ${e.rows} rows, data has $n")
        }
      }
      val onDisk =
        if (!Files.exists(dir)) Seq.empty[String]
        else Using.resource(Files.list(dir))(_.iterator().asScala
          .filter(Files.isDirectory(_)).map(_.getFileName.toString)
          .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSeq)
      // a tombstoned id's directory is LEGITIMATE residue while a
      // surviving restore entry reads it (see vacuumOlderThan)
      val referenced = versions(coll, table).map(_.dataRef).toSet
      onDisk.foreach { id =>
        if (!byId.contains(id))
          issues += FsckIssue("orphan-dir", coll, table,
            s"version dir $id appears in no log entry")
        else if (pruned(id) && !referenced(id))
          issues += FsckIssue("pruned-residue", coll, table,
            s"version $id is vacuum-tombstoned but still on disk")
      }
      val stagingDir = dir.resolve(".staging")
      val staged =
        if (!Files.exists(stagingDir)) Seq.empty[String]
        else Using.resource(Files.list(stagingDir))(_.iterator().asScala
          .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq)
      staged.foreach { id =>
        byId.get(id) match {
          case Some(e) if isCommitted(e.transaction) =>
            issues += FsckIssue("staging-leak", coll, table,
              s"version $id: transaction ${e.transaction} committed but data still staged")
          case _ =>
            issues += FsckIssue("staging-debris", coll, table,
              s"staged dir $id belongs to no committed transaction")
        }
      }
    }
    issues.result()
  }

  /** Non-hidden child directories, stream closed (these back per-request
    * HTTP listings — an unclosed DirectoryStream leaks an fd per call). */
  private def listDirs(d: Path): Seq[String] = {
    if (!Files.exists(d)) Seq.empty
    else Using.resource(Files.list(d))(_.iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filterNot(_.startsWith("_")).toSeq.sorted)
  }
}

object TableStore {
  /** Collection/table names become filesystem path segments under the store
    * root, and the HTTP layer feeds them straight from percent-decoded URL
    * segments — so `..`, `.`, separators, or hidden-prefix names would walk
    * or shadow the store layout (`.staging`, `_log.jsonl`, `_transactions`).
    * One rule, enforced at every path construction: first char alphanumeric,
    * rest alphanumeric/dot/underscore/dash. */
  private val SafeName = java.util.regex.Pattern.compile("[A-Za-z0-9][A-Za-z0-9._-]*")
  private[graft] def requireSafeName(kind: String, s: String): Unit =
    if (s == null || !SafeName.matcher(s).matches())
      throw new IllegalArgumentException(
        s"invalid $kind name '$s': must match ${SafeName.pattern}")

  /** Deletes every file under `dir` that is neither one of `files` (paths
    * relative to `dir`) nor the checksum sidecar (`.<name>.crc`) Hadoop's
    * local file system writes beside it, then every dir left empty. */
  private def keepOnly(dir: Path, files: Seq[String]): Unit = {
    val keep = files.flatMap { f =>
      val p = dir.resolve(f)
      Seq(p, p.resolveSibling(s".${p.getFileName}.crc"))
    }.toSet
    Using.resource(Files.walk(dir))(_.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.toVector).foreach { p =>
      if (Files.isDirectory(p)) {
        if (p != dir && Using.resource(Files.list(p))(!_.findAny().isPresent)) Files.delete(p)
      } else if (!keep(p)) Files.delete(p)
    }
  }

  /** Recursive delete, depth-first, stream closed — the one tree-removal
    * used by staging cleanup, transaction aborts, and table drops. */
  private[graft] def deleteTree(dir: Path): Unit =
    Using.resource(Files.walk(dir))(
      _.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p)))

  /** One distinct staged schema: its base64 text and the decoded type. */
  private[store] final class SharedSchema(val b64: String) {
    lazy val decoded: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(
        new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  // the most recently used distinct schemas; every log entry carries one,
  // and a table's versions almost always share it
  private val schemas = new java.util.LinkedHashMap[String, SharedSchema](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, SharedSchema]): Boolean =
      size() > 256
  }

  /** The shared instance for a base64 schema text, so identical schemas
    * across log entries hold one `String` and decode once. */
  private[store] def sharedSchema(b64: String): SharedSchema =
    schemas.synchronized(schemas.computeIfAbsent(b64, new SharedSchema(_)))

  /** Shared mapper for the version log (thread-safe after configuration). */
  private[graft] val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Deep nullable=true, mirroring what Spark's file sources do to a
    * user-provided read schema (StructType.asNullable is private[sql]). */
  private[store] def relaxNullability(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = relaxNullability(a.elementType),
        containsNull = true)
      case m: MapType => m.copy(valueType = relaxNullability(m.valueType),
        valueContainsNull = true)
      case other => other
    }
  }
}
