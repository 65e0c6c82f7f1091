package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

import graft.core.TableFrame

/** Connector API: user-extensible sources and destinations (reference:
  * _io/plugin.py:93-260 `SourcePlugin`, :310-435 `DestinationPlugin`).
  * A Source yields one DataFrame per declared output table; a Sink consumes
  * one. Incremental state rides on the flow engine's offset map. */
trait Source {
  def load(spark: SparkSession, offsets: Map[String, String]): Seq[DataFrame]
  /** Offset values to persist after a successful run. */
  def nextOffsets(dfs: Seq[DataFrame]): Map[String, String] = Map.empty
}

trait Sink {
  def write(df: DataFrame): Unit
  /** A `None` result slot writes nothing — no table touched, no error
    * (reference: store_results_utils.py:776-877 "Result is None. No data
    * stored", exercised by test_output_sql_none / test_output_*_with_none). */
  final def write(df: Option[DataFrame]): Unit = df.foreach(write)
}

/** One result slot handed to a [[DestinationPlugin]]: the reference passes
  * each function result through to `stream` as a frame, a frame LIST, or
  * None (_io/plugin.py:346-368 — TableFrame → converted frame, list → list
  * of converted frames, None → None; anything else is a TypeError raised
  * before the plugin runs). */
sealed trait ResultSlot
object ResultSlot {
  case object NoneSlot extends ResultSlot
  final case class One(df: DataFrame) extends ResultSlot
  final case class Many(dfs: Seq[DataFrame]) extends ResultSlot
}

/** Destination plugin: unlike a per-slot [[Sink]], `stream` is called ONCE
  * per function run with EVERY result slot (reference _io/plugin.py:310-435
  * `DestinationPlugin.stream(working_dir, *results)`), so a plugin can
  * coordinate across slots — write all files, then publish one manifest.
  * None slots ARRIVE as [[ResultSlot.NoneSlot]] rather than being skipped:
  * the plugin decides what a missing result means (plugin.py:346, exercised
  * by test_output_plugin_with_none / _multiple_with_none, whose reference
  * plugins assert the value IS None). `workingDir` is scratch space the
  * engine provisions for staging (plugin.py:373 execution_context.paths
  * .output_folder). */
trait DestinationPlugin {
  def stream(workingDir: String, results: Seq[ResultSlot]): Unit
}

/** File ingestion (reference: _io/inputs/file_inputs.py — LocalFileSource /
  * S3Source / AzureSource / GCSSource share this shape; cloud variants are
  * the same Spark reader against an `s3a://`/`abfss://`/`gs://` URI once the
  * corresponding Hadoop FS connector jars are on the cluster classpath).
  *
  * - `pattern` supports `*`/`?` globs (Spark path globbing, mirroring the
  *   reference's wildcard handling, file_inputs.py:580)
  * - `modifiedAfter` (ISO-8601) is the incremental `initial_last_modified`
  *   filter (file_inputs.py:1120-1178) — pushed to the file listing, not a
  *   post-filter
  * - formats: csv (full-file schema inference, matching the transporter's
  *   `infer_schema_length=None`), json/ndjson, parquet, orc, text/log
  */
final case class FileSource(
    pattern: String,
    format: String = "csv",
    options: Map[String, String] = Map.empty,
    modifiedAfter: Option[String] = None) extends Source {

  override def load(spark: SparkSession, offsets: Map[String, String]): Seq[DataFrame] = {
    var r: DataFrameReader = spark.read
    // A location that matches nothing is a None input, not an error
    // (reference: test_input_file_not_found — the function receives df=None
    // and publishes an empty version). Distinguishes from a format error:
    // only the LISTING may come up empty; a matched file that fails to parse
    // still throws. One listing serves both this check and the watermark
    // guard below — remote stores pay a single LIST round-trip here.
    val conf = spark.sessionState.newHadoopConf()
    val globPath = new org.apache.hadoop.fs.Path(pattern)
    val fs = globPath.getFileSystem(conf)
    val matched = Option(fs.globStatus(globPath)).getOrElse(Array.empty)
    if (matched.isEmpty) return Seq.empty
    val lastMod = offsets.get("last_modified").orElse(modifiedAfter)
    val cutoff = lastMod.map(parseWatermark)
    // Incremental guard: with a watermark set, only matches with newer
    // content produce frames; none newer means "nothing new this run" —
    // return no frames (the reference's None, file_inputs.py) instead of
    // letting csv/json schema inference throw UNABLE_TO_INFER_SCHEMA on a
    // zero-file listing. Compare FILE mtimes, descending one level into
    // matched directories: a file rewritten in place does not bump its
    // parent directory's mtime, so testing the matched status alone would
    // miss it.
    def newer(st: org.apache.hadoop.fs.FileStatus): Boolean = cutoff.forall { c =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).exists(_.getModificationTime > c)
      else st.getModificationTime > c
    }
    val live = matched.filter(newer)
    if (live.isEmpty) return Seq.empty
    lastMod.foreach(ts => r = r.option("modifiedAfter", ts))
    options.foreach { case (k, v) => r = r.option(k, v) }
    def readOne(path: String): DataFrame = format match {
      case "csv" =>
        // inferSchema defaults on (transporter's infer_schema_length=None);
        // "false" gives the reference's String-format mode: every column
        // arrives as a string for the caller to cast explicitly
        r.option("header", options.getOrElse("header", "true"))
          .option("inferSchema", options.getOrElse("inferSchema", "true"))
          .csv(path)
      case "json" | "ndjson" => r.json(path)
      case "parquet"         => r.parquet(path)
      case "orc"             => r.orc(path)
      case "text" | "log"    => r.text(path)
      case "avro"            => AvroFiles.read(spark, path)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
    // Reference semantics (file_inputs.py:1239-1247, _is_wildcard_pattern
    // :1406): a pattern containing `*`/`?` binds a LIST to its input slot —
    // one frame per matched path, in lexicographic path order (the
    // transporter reports matches sorted), so `input_file_wildcard`-style
    // functions receive len(matches) frames and join/concat explicitly. A
    // literal path stays a single frame over the whole location.
    if (pattern.exists(c => c == '*' || c == '?'))
      live.map(_.getPath.toString).sorted.map(readOne).toSeq
    else Seq(readOne(pattern))
  }

  /** ISO-8601 watermark → epoch millis; zone-less timestamps are read as
    * UTC, matching the sessions' spark.sql.session.timeZone. */
  private def parseWatermark(ts: String): Long =
    try java.time.Instant.parse(ts).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDateTime.parse(ts)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** Advance the incremental watermark to the max mtime actually observed
    * among the files this run read (reference derives it the same way,
    * file_inputs.py:1120-1178) — NOT to now(): a file landing between the
    * listing and now() would be skipped by this run yet excluded from the
    * next run's `modifiedAfter`, i.e. silently lost. With the observed max,
    * that file's mtime exceeds the watermark and the next run picks it up.
    * No files read → no watermark advance. */
  override def nextOffsets(dfs: Seq[DataFrame]): Map[String, String] = {
    val files = dfs.flatMap(_.inputFiles)
    if (files.isEmpty) Map.empty
    else {
      val conf = dfs.head.sparkSession.sessionState.newHadoopConf()
      val maxMtime = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getModificationTime
      }.max
      Map("last_modified" -> java.time.Instant.ofEpochMilli(maxMtime).toString)
    }
  }

  /** Reference uri-setter semantics (file_inputs.py `@uri.setter`, proven
    * by `test_input_s3_modified_uri`): re-pointing a source at a new
    * location RE-DERIVES the implicit format from the new extension — a
    * source built for `data.parquet` then moved to `data.csv` reads CSV.
    * Only meaningful on sources whose format was implicit ([[FileSource.auto]]);
    * a format pinned explicitly for an extension-less path should not be
    * retargeted through this. */
  def retargeted(newPattern: String): FileSource =
    copy(pattern = newPattern, format = FileSource.implicitFormat(newPattern))
}

object FileSource {
  /** Implicit format from the location's extension (reference:
    * `_format.py get_implicit_format_from_list` — csv, parquet, avro,
    * ndjson/jsonl, log are the recognized implicit formats; anything else
    * must pass an explicit format object). */
  def implicitFormat(pattern: String): String = {
    val name = pattern.split('/').last
    val ext = if (name.contains('.')) name.split('.').last.toLowerCase else ""
    ext match {
      case "csv"                       => "csv"
      case "parquet"                   => "parquet"
      case "avro"                      => "avro"
      case "ndjson" | "jsonl" | "json" => "ndjson"
      case "log" | "txt"               => "log"
      case "orc"                       => "orc"
      case other => throw new IllegalArgumentException(
        s"cannot derive an implicit format from '$pattern' " +
          s"(extension '$other') — pass an explicit format")
    }
  }

  /** [[FileSource]] with its format derived from the extension, the
    * reference's default construction path (format=None → implicit). */
  def auto(pattern: String, options: Map[String, String] = Map.empty,
      modifiedAfter: Option[String] = None): FileSource =
    FileSource(pattern, implicitFormat(pattern), options, modifiedAfter)
}

/** Multi-URI file input (reference: file_inputs.py URI-list form,
  * `test_input_s3_uri_list`): several locations feed ONE table — frames
  * are concatenated by column name. Each URI keeps [[FileSource]]'s glob
  * and incremental-watermark semantics; a run where no URI has new files
  * yields no frames, and the watermark advances to the max mtime observed
  * across all of them. */
final case class MultiFileSource(
    patterns: Seq[String],
    format: String = "csv",
    options: Map[String, String] = Map.empty,
    modifiedAfter: Option[String] = None) extends Source {
  require(patterns.nonEmpty, "MultiFileSource needs at least one URI")
  private def parts = patterns.map(FileSource(_, format, options, modifiedAfter))

  override def load(spark: SparkSession, offsets: Map[String, String]): Seq[DataFrame] = {
    val dfs = parts.flatMap(_.load(spark, offsets))
    if (dfs.isEmpty) Seq.empty
    else Seq(dfs.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  override def nextOffsets(dfs: Seq[DataFrame]): Map[String, String] = {
    val advanced = dfs.flatMap(df => parts.head.nextOffsets(Seq(df)).get("last_modified"))
    if (advanced.isEmpty) Map.empty else Map("last_modified" -> advanced.max)
  }
}

/** JDBC source: one SQL query per output table, with offset values
  * substituted into `$offset$`-parameterized queries for incremental loads
  * (reference: _io/inputs/sql_inputs.py — MySQL/MariaDB/Oracle/Postgres all
  * reduce to this against Spark's JDBC reader).
  *
  * `initialValues` is the reference's named-parameter form
  * (sql_inputs.py:69-93 `initial_values`, substituted at
  * sql_inputs.py:780-789 `_replace_initial_values`): each `:key` token in a
  * query is replaced with the parameter's current value. The declared map
  * seeds the FIRST run only; once the flow engine has persisted offsets for
  * the function, the stored values win (plugin.py:112-116 — the server
  * overwrites the decorator values with the current offset). The returned-
  * offset channel is the flow's `ctx.setOffset`: not calling it freezes the
  * values for the next run (offset_utils.py:121-163 `"SAME"`), and its
  * `String` key type makes the reference's invalid-key-type error
  * (offset_utils.py:138-149) unrepresentable by construction. */
final case class JdbcSource(
    url: String,
    queries: Seq[String],
    properties: Map[String, String] = Map.empty,
    offsetKey: String = "offset",
    initialOffset: String = "0",
    initialValues: Map[String, String] = Map.empty) extends Source {

  override def load(spark: SparkSession, offsets: Map[String, String]): Seq[DataFrame] = {
    val off = offsets.getOrElse(offsetKey, initialOffset)
    // stored offsets override declared initial values. Substitution is
    // token-bounded (a lookahead forbids a following word character), so a
    // declared `:num` can never clip a longer `:numeric_id` in the query —
    // whether or not the longer name is itself declared. (The reference
    // does a plain substring replace, sql_inputs.py:780-789; the bounded
    // form is strictly safer and identical on well-formed queries.)
    val params = (initialValues ++ offsets).toSeq.sortBy(-_._1.length)
    queries.map { q =>
      val sql = params.foldLeft(q.replace("$offset$", off)) {
        case (acc, (k, v)) => acc.replaceAll(
          ":" + java.util.regex.Pattern.quote(k) + "(?![A-Za-z0-9_])",
          java.util.regex.Matcher.quoteReplacement(v))
      }
      // Parallel extract: Spark's JDBC partitioned read (partitionColumn +
      // lowerBound/upperBound/numPartitions) is incompatible with the
      // `query` option, so a partitioned source wraps the query as a
      // derived-table `dbtable` — each executor then issues its own
      // stride `WHERE` against the subquery instead of one cursor pulling
      // everything (the fan-out a 100 TB warehouse extract rides;
      // reference pulls rows through a single client cursor,
      // `connectors/python/tabsdata_mssql/_connector.py:35-280`).
      var r = spark.read.format("jdbc").option("url", url)
      r = if (properties.contains("partitionColumn"))
        r.option("dbtable", s"($sql) TD_SUBQ")
      else r.option("query", sql)
      properties.foreach { case (k, v) => r = r.option(k, v) }
      r.load()
    }
  }
}

/** File destination (reference: _io/outputs/file_outputs.py — local + cloud
  * variants; jsonl == Spark json lines output).
  *
  * Its parquet, csv, json and orc writes keep Spark's writer (`df.write`),
  * unlike the store's versions ([[graft.store.TableStore]]): an external
  * path has no staging dir and atomic move of ours to publish it, so its
  * readers rely on Spark's commit protocol (`_temporary`, then the job
  * commit and `_SUCCESS`), and its write modes (overwrite, append, ignore,
  * error) act on what is already there. */
final case class FileSink(
    path: String,
    format: String = "parquet",
    mode: String = "overwrite",
    options: Map[String, String] = Map.empty) extends Sink {

  override def write(df: DataFrame): Unit = {
    var w = df.write.mode(mode)
    options.foreach { case (k, v) => w = w.option(k, v) }
    format match {
      // header defaults on but must not stomp a caller's explicit choice
      // (CsvFormat.outputIncludeHeader=false arrives via `options`)
      case "csv" =>
        (if (options.contains("header")) w else w.option("header", "true")).csv(path)
      case "json" | "ndjson" | "jsonl" => w.json(path)
      case "parquet"          => w.parquet(path)
      case "orc"              => w.orc(path)
      case "avro"             => AvroFiles.write(df, path, mode,
        options.get("maxRecordsPerFile").map(_.toLong).getOrElse(0L))
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }
}

/** JDBC destination (reference: _io/outputs/sql_outputs.py; append/replace). */
final case class JdbcSink(
    url: String,
    table: String,
    mode: String = "append",
    properties: Map[String, String] = Map.empty) extends Sink {
  override def write(df: DataFrame): Unit = {
    var w = df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table)
    properties.foreach { case (k, v) => w = w.option(k, v) }
    w.save()
  }
}

/** Transactional multi-table JDBC destination (reference:
  * test_output_sql_transaction and sql_outputs.py list destinations —
  * a destination naming SEVERAL tables commits all frames or none; a
  * frame that cannot be serialized to the database rolls the whole set
  * back, so the first table is never left holding data the second
  * failed to pair with).
  *
  * Spark's JDBC writer opens one connection per partition, so a naive
  * per-table loop cannot be atomic. Shape chosen for scale AND
  * atomicity: each frame lands DISTRIBUTED in a per-table staging
  * table (`<table>_TDSTG`, Spark parallel write), then ONE driver-side
  * transaction moves every staged set into its target (`INSERT INTO t
  * (cols) SELECT cols FROM staging` — in-database row movement, no
  * driver materialization) and commits once. Any failure — including
  * a non-relational dtype (array/map/struct), caught up-front before
  * any staging IO — leaves every target untouched. Staging tables are
  * dropped in all cases. Requires transactional DML on the target
  * database (true of Derby/Postgres/Oracle/MSSQL). */
final case class JdbcTxnSink(
    url: String,
    tables: Seq[String],
    mode: String = "append",
    properties: Map[String, String] = Map.empty) {
  require(Set("append", "overwrite")(mode), s"mode must be append|overwrite: $mode")

  def writeAll(frames: Seq[Option[DataFrame]]): Unit = {
    require(frames.length == tables.length,
      s"${frames.length} frames for ${tables.length} tables")
    // fail BEFORE any IO on dtypes no relational column can hold — the
    // reference's rollback trigger (a list column) surfaces here
    for ((f, t) <- frames.zip(tables); df <- f; fld <- df.schema.fields)
      fld.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType =>
          throw new IllegalArgumentException(
            s"table $t column '${fld.name}': ${fld.dataType.sql} has no JDBC " +
              "representation — transaction aborted, nothing written")
        case _ => ()
      }
    val staged = tables.zip(frames).collect { case (t, Some(df)) => (t, s"${t}_TDSTG", df) }
    if (staged.isEmpty) return
    // distributed staging writes (outside the transaction — staging tables
    // are invisible to readers of the targets)
    staged.foreach { case (_, stg, df) =>
      var w = df.write.format("jdbc").mode("overwrite")
        .option("url", url).option("dbtable", stg)
      properties.foreach { case (k, v) => w = w.option(k, v) }
      w.save()
    }
    val props = new java.util.Properties()
    properties.foreach { case (k, v) => props.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        staged.foreach { case (t, stg, _) =>
          val meta = conn.getMetaData
          val exists = { val rs = meta.getTables(null, null, t.toUpperCase, null)
            try rs.next() finally rs.close() }
          if (!exists)
            st.executeUpdate(s"CREATE TABLE $t AS SELECT * FROM $stg WITH NO DATA")
          else if (mode == "overwrite") st.executeUpdate(s"DELETE FROM $t")
          val cols = { val rs = meta.getColumns(null, null, stg.toUpperCase, null)
            val b = Seq.newBuilder[String]
            try { while (rs.next()) b += rs.getString("COLUMN_NAME") } finally rs.close()
            b.result() }
          val colList = cols.map(c => s""""$c"""").mkString(", ")
          st.executeUpdate(s"INSERT INTO $t ($colList) SELECT $colList FROM $stg")
        }
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally {
        conn.setAutoCommit(true)
        staged.foreach { case (_, stg, _) =>
          try st.executeUpdate(s"DROP TABLE $stg") catch { case _: Exception => () }
        }
        st.close()
      }
    } finally conn.close()
  }
}

/** Catalog-registering sink (reference: file_outputs.py:97-420 AWSGlue +
  * the pyiceberg write path at :1650-1708). Targets the session catalog; on
  * a Glue/Iceberg-enabled cluster the same calls route through
  * `spark.sql.catalog.*` configuration.
  *
  * Semantics ported from the reference:
  *   - missing table: created when `autoCreate` (reference `auto_create_at`,
  *     :1659-1667 — location optional), else NoSuchTable error (:1669-1673)
  *   - `ifTableExists = "append"`: add the new files, existing rows kept
  *   - `ifTableExists = "replace"`: `trx.delete("True")` + add = truncate
  *     then insert; forbidden on partitioned tables (DECE39, :160-169)
  *   - `ifTableExists = "replace_partitions"`: the partition-replace mode a
  *     partitioned table needs instead — dynamic partition overwrite:
  *     only partitions present in the incoming frame are rewritten, all
  *     others are left intact
  *   - `schemaStrategy = "update"`: union-by-name evolution
  *     (`update_schema.union_by_name`, :1677-1688): new incoming columns
  *     are added to the table (ALTER TABLE ADD COLUMNS), table columns
  *     absent from the frame are filled with nulls
  *   - `schemaStrategy = "strict"`: schema untouched; incoming columns not
  *     in the table are an error
  *   - type conflicts error unless `allowIncompatibleChanges`, which casts
  *     the incoming column to the table's type (:1681 semantics)
  *
  * Scale note: every path is a distributed write (`insertInto`); the only
  * driver-side work is catalog DDL. Dynamic partition overwrite commits
  * per-partition, so replacing one day of a 10-year table moves 1/3650 of
  * the data. */
final case class CatalogSink(
    table: String,
    format: String = "parquet",
    ifTableExists: String = "append",
    partitionBy: Seq[String] = Nil,
    autoCreate: Boolean = true,
    location: Option[String] = None,
    schemaStrategy: String = "update",
    allowIncompatibleChanges: Boolean = false) extends Sink {
  require(Set("append", "replace", "replace_partitions")(ifTableExists),
    s"ifTableExists must be append|replace|replace_partitions, got: $ifTableExists")
  require(Set("update", "strict")(schemaStrategy),
    s"schemaStrategy must be update|strict, got: $schemaStrategy")
  if (ifTableExists == "replace" && partitionBy.nonEmpty)
    throw new IllegalArgumentException(
      "replace on a partitioned table is not allowed (use replace_partitions)")

  override def write(df: DataFrame): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      if (!autoCreate) throw new java.util.NoSuchElementException(
        s"catalog table '$table' not found and autoCreate is disabled")
      var w = df.write.format(format)
      if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
      location.foreach(l => w = w.option("path", l))
      w.saveAsTable(table)
      return
    }

    // ---- schema reconciliation against the existing table ----
    val tableSchema = spark.table(table).schema
    val tableCols = tableSchema.map(f => f.name.toLowerCase -> f).toMap
    val incoming = df.schema
    val extras = incoming.filterNot(f => tableCols.contains(f.name.toLowerCase))
    if (extras.nonEmpty) schemaStrategy match {
      case "strict" => throw new IllegalArgumentException(
        s"strict schema: incoming columns not in '$table': " +
          extras.map(_.name).mkString(", "))
      case "update" =>
        val ddl = extras.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        spark.sql(s"ALTER TABLE $table ADD COLUMNS ($ddl)")
    }
    val targetSchema = spark.table(table).schema
    // align by name to the table's column order (insertInto is positional);
    // absent columns → null, type conflicts → error or cast
    import org.apache.spark.sql.{functions => F}
    val aligned = df.select(targetSchema.map { f =>
      incoming.find(_.name.equalsIgnoreCase(f.name)) match {
        case None => F.lit(null).cast(f.dataType).as(f.name)
        case Some(in) if in.dataType == f.dataType => df.col(in.name).as(f.name)
        case Some(in) if allowIncompatibleChanges =>
          df.col(in.name).cast(f.dataType).as(f.name)
        case Some(in) => throw new IllegalArgumentException(
          s"column '${f.name}': incoming ${in.dataType.sql} != table " +
            s"${f.dataType.sql} (set allowIncompatibleChanges to cast)")
      }
    }: _*)

    val overwrite = ifTableExists != "append"
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        if (ifTableExists == "replace_partitions") "dynamic" else "static")
      aligned.write.mode(if (overwrite) "overwrite" else "append").insertInto(table)
    } finally {
      prevMode match {
        case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }
}

object Sources {
  /** Wrap a source's output as raw TableFrames (mode="raw": fresh system
    * columns — reference: execution_utils.py:213-282 publisher path). */
  def loadRaw(src: Source, spark: SparkSession,
      offsets: Map[String, String] = Map.empty): Seq[TableFrame] =
    src.load(spark, offsets).map(df => TableFrame.fromRaw(df))
}
