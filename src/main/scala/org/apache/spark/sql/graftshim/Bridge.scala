package org.apache.spark.sql
package graftshim

import java.io.ByteArrayOutputStream
import java.net.URI
import java.util.{Date, UUID}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutorService}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.util.Progressable

import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec, SparkHadoopWriterUtils}
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{CollectLimitExec, SQLExecution}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormatWriter,
  OutputWriterFactory, PartitioningUtils, V1WritesUtils, WriteJobDescription}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration

/** Access bridge into `private[sql]` Spark internals we legitimately need:
  * Column ↔ catalyst Expression conversion (Spark 4 moved Column onto
  * ColumnNode; `classic.ExpressionUtils` is the sanctioned converter but is
  * package-private), a session's parquet writer outside a write job
  * (`classic.Dataset.queryExecution`, `SessionState`, the physical plan),
  * Spark's per-task file writer without its job commit
  * (`FileFormatWriter.executeTask`), and
  * `SQLExecution`'s thread-local capture for work on other threads. Lives under
  * `org.apache.spark.sql` solely to satisfy the access qualifier. */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `body` on `pool`, under this thread's Spark local properties (job
    * group, description, scheduler pool) and with `session` active: the
    * capture Spark itself uses for broadcast and subquery futures. */
  def withThreadLocalsCaptured[T](session: SparkSession, pool: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(session.asInstanceOf[classic.SparkSession], pool)(body)

  /** The `offset/limit` slice `df` as the bytes of one parquet file, made
    * by one Spark job of one task. Spark plans the slice's collect as
    * `CollectLimitExec(offset + len, child, offset)`. The task reads
    * `child`'s partitions in partition order (the order `df.collect()`
    * takes them in), drops the first `offset` rows as they arrive, stops
    * after the next `len`, and encodes those with the writer a Spark
    * parquet write builds per task (`ParquetFileFormat.prepareWrite` →
    * `OutputWriterFactory.newInstance`) into a byte buffer. So the file
    * carries the same write support, row-schema footer metadata, codec and
    * session settings as a `df.write.parquet` part file, with no shuffle,
    * no write job, no output committer and no file on disk. No row reaches
    * the driver, only the task's result: the file of at most `len` rows,
    * which `spark.driver.maxResultSize` caps. Any other plan (the empty
    * relation of `len = 0`) is encoded whole by the same single task. */
  def sliceParquet(df: DataFrame): Array[Byte] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val schema = ds.schema
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = SQLConf.withExistingConf(session.sessionState.conf)(
      new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema))
    job.getConfiguration.setClass(s"fs.${BufferFs.Scheme}.impl", classOf[BufferFs], classOf[FileSystem])
    job.getConfiguration.setBoolean(s"fs.${BufferFs.Scheme}.impl.disable.cache", true)
    val changed = changedEntries(job.getConfiguration)
    val (plan, skip, keep) = qe.executedPlan match {
      case CollectLimitExec(limit, child, offset) =>
        (child, offset, if (limit >= 0) limit - offset else Int.MaxValue)
      case p => (p, 0, Int.MaxValue)
    }
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = plan.execute().coalesce(1, partitionCoalescer = Some(InOrder))
      session.sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) =>
        encode(factory, taskConf(changed), schema, rows.drop(skip).take(keep))).head
    }
  }

  /** What the tasks of a [[writeParquet]] job reported: their row count
    * and the part files they wrote, relative to the output dir. */
  final case class Written(rows: Long, files: Seq[String])

  /** `df` as parquet part files written straight into `dir`, by one Spark
    * job whose tasks run Spark's own per-task file writer
    * (`FileFormatWriter.executeTask`): the part files, hive partition dirs
    * (`partitionBy`, with typed values and `__HIVE_DEFAULT_PARTITION__` for
    * NULL and empty strings), `maxRecordsPerFile` and footer bytes of a
    * `df.write.partitionBy(..).parquet(dir)`. Partitioned rows are sorted
    * within each task by the partition columns, as a planned write sorts
    * them. Partition 0 always writes a file, so an empty frame leaves one
    * schema-only part file.
    *
    * There is no job commit. Each task names its files
    * `part-<split>-<attempt uuid>-c<n>` straight under `dir` and returns
    * them with its row count; the driver keeps the result of one attempt
    * per partition. A failed or duplicate attempt may leave files in `dir`
    * that no result names, so the caller must drop every file outside
    * [[Written.files]] (and their checksum sidecars) before it publishes
    * `dir`. `dir` must exist.
    *
    * Conf: a task receives only the Hadoop conf entries that differ from
    * Hadoop's defaults ([[taskConf]]), not the ~108 KB session conf that
    * Spark's writer ships twice per task (job description and stats
    * tracker). So a task's conf is its executor's Hadoop defaults plus the
    * driver's changed entries; it differs from Spark's writer wherever an
    * executor's `core-site.xml` differs from the driver's. */
  def writeParquet(df: DataFrame, dir: String, partitionBy: Seq[String]): Written = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val sqlConf = session.sessionState.conf
    PartitioningUtils.validatePartitionColumn(ds.schema, partitionBy, sqlConf.caseSensitiveAnalysis)
    SchemaUtils.checkColumnNameDuplication(ds.schema.fieldNames.toSeq, sqlConf.caseSensitiveAnalysis)
    // the planned write's input: string partition values with "" as NULL,
    // rows sorted within each task by the partition columns
    val input = ds.queryExecution.analyzed
    val partIdx = partitionBy.map(n => input.output.indexWhere(a => sqlConf.resolver(a.name, n)))
    val planned = if (partIdx.isEmpty) ds else {
      val project = V1WritesUtils.convertEmptyToNull(input.output, partIdx.map(input.output))
      val base = if (project.isEmpty) input else Project(project, input)
      classic.Dataset.ofRows(session,
        Sort(partIdx.map(i => SortOrder(base.output(i), Ascending)), global = false, base))
    }
    val qe = planned.queryExecution
    // the optimized output, whose nullability Spark's writer puts in the footer
    val all = qe.optimizedPlan.output
    val parts = partIdx.map(all)
    val data = all.filterNot(parts.contains)
    val dataSchema = DataTypeUtils.fromAttributes(data)
    val format = new ParquetFileFormat()
    DataSourceUtils.verifySchema(format, dataSchema)
    DataSourceUtils.checkFieldNames(format, dataSchema)
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = SQLConf.withExistingConf(sqlConf)(
      format.prepareWrite(session, job, Map.empty, dataSchema))
    val changed = changedEntries(job.getConfiguration)
    val uuid = UUID.randomUUID().toString
    val maxRecords = sqlConf.maxRecordsPerFile
    val timeZone = sqlConf.sessionLocalTimeZone
    val tracker = SparkHadoopWriterUtils.createJobTrackerID(new Date())
    SQLExecution.withNewExecutionId(qe, Some("stage")) {
      val rdd = qe.executedPlan.execute() match {
        case r if r.partitions.isEmpty => session.sparkContext.parallelize(Seq.empty[InternalRow], 1)
        case r => r
      }
      val results = session.sparkContext.runJob(rdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => writeTask(ctx, rows,
          new WriteJobDescription(uuid, new SerializableConfiguration(taskConf(changed)),
            factory, all, data, parts, None, dir, Map.empty, maxRecords, timeZone, Nil),
          tracker))
      Written(results.map(_._1).sum, results.toSeq.flatMap(_._2))
    }
  }

  /** One write task: Spark's per-task writer over `rows`, committing into
    * [[DirectCommit]]. Returns the rows it wrote and its files. */
  private def writeTask(ctx: TaskContext, rows: Iterator[InternalRow],
      desc: WriteJobDescription, tracker: String): (Long, Seq[String]) = {
    var n = 0L
    val counted = rows.map { r => n += 1; r }
    val result = FileFormatWriter.executeTask(desc, tracker, ctx.stageId(), ctx.partitionId(),
      ctx.taskAttemptId().toInt & Int.MaxValue, new DirectCommit(desc.path), counted, None)
    (n, result.commitMsg.obj.asInstanceOf[Seq[String]])
  }

  /** A task-side commit protocol (the pattern of Spark's
    * `ManifestFileCommitProtocol`): files are created at their final path
    * under `dir`, named by a per-attempt uuid so two attempts never
    * collide, and a task commit reports them relative to `dir`. It has no
    * job phase; the caller publishes `dir`. */
  private final class DirectCommit(dir: String) extends FileCommitProtocol {
    private val attempt = UUID.randomUUID().toString
    private val added = scala.collection.mutable.ArrayBuffer.empty[String]
    override def setupJob(job: JobContext): Unit = ()
    override def commitJob(job: JobContext, msgs: Seq[FileCommitProtocol.TaskCommitMessage]): Unit = ()
    override def abortJob(job: JobContext): Unit = ()
    override def setupTask(task: TaskAttemptContext): Unit = ()
    override def newTaskTempFile(task: TaskAttemptContext, sub: Option[String],
        spec: FileNameSpec): String = {
      val split = task.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-$attempt${spec.suffix}"
      val rel = sub.fold(name)(d => s"$d/$name")
      added += rel
      new Path(dir, rel).toString
    }
    override def newTaskTempFileAbsPath(task: TaskAttemptContext, absoluteDir: String,
        spec: FileNameSpec): String =
      throw new UnsupportedOperationException("custom partition locations")
    override def commitTask(task: TaskAttemptContext): FileCommitProtocol.TaskCommitMessage =
      new FileCommitProtocol.TaskCommitMessage(added.toList)
    override def abortTask(task: TaskAttemptContext): Unit = {
      val fs = new Path(dir).getFileSystem(task.getConfiguration)
      added.foreach(f => fs.delete(new Path(dir, f), false))
    }
  }

  /** Hadoop's defaults, loaded once per JVM. A task rebuilds its job conf
    * as these plus the entries the driver's conf changed, instead of
    * receiving the whole conf: that is ~110 KB to serialize and read back
    * per task, which measured ~50 ms of a 20-row sample and 14–24 ms of
    * deserialization per write task (4 vCPU). */
  private lazy val hadoopDefaults = new Configuration()

  private def changedEntries(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .filter { case (k, v) => hadoopDefaults.getRaw(k) != v }.toMap

  private def taskConf(changed: Map[String, String]): Configuration = {
    val conf = new Configuration(hadoopDefaults)
    changed.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  private def encode(factory: OutputWriterFactory, conf: Configuration, schema: StructType,
      rows: Iterator[InternalRow]): Array[Byte] = {
    val name = UUID.randomUUID().toString
    try {
      val w = factory.newInstance(s"${BufferFs.Scheme}:/$name", schema,
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      try rows.foreach(w.write) finally w.close()
      BufferFs.files.get(name).toByteArray
    } finally BufferFs.files.remove(name)
  }

  /** One group of every parent partition in partition order, so a
    * coalesced task reads them as `executeTake` would, without the
    * locality regrouping of the default coalescer. */
  private object InOrder extends PartitionCoalescer with Serializable {
    override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val g = new PartitionGroup()
      g.partitions ++= parent.partitions
      Array(g)
    }
  }
}

/** A write-only Hadoop file system whose files are byte buffers, keyed by
  * file name in [[BufferFs.files]] until the creator removes them — so a
  * Hadoop-path writer can encode into memory. Everything but `create`
  * is unsupported. */
final class BufferFs extends FileSystem {
  override def getUri: URI = URI.create(s"${BufferFs.Scheme}:///")
  override def getWorkingDirectory: Path = new Path(getUri)
  override def setWorkingDirectory(dir: Path): Unit = ()
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val buf = new ByteArrayOutputStream()
    BufferFs.files.put(f.getName, buf)
    new FSDataOutputStream(buf, statistics)
  }
  private def unsupported = throw new UnsupportedOperationException(
    s"${BufferFs.Scheme}: only create is supported")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = unsupported
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    unsupported
  override def rename(src: Path, dst: Path): Boolean = unsupported
  override def delete(f: Path, recursive: Boolean): Boolean = unsupported
  override def listStatus(f: Path): Array[FileStatus] = unsupported
  override def mkdirs(f: Path, permission: FsPermission): Boolean = unsupported
  override def getFileStatus(f: Path): FileStatus = unsupported
}

object BufferFs {
  val Scheme = "graftbuf"
  private[graftshim] val files = new ConcurrentHashMap[String, ByteArrayOutputStream]()
}
