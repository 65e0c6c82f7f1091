package org.apache.spark.sql
package graftshim

import java.io.ByteArrayOutputStream
import java.net.URI
import java.util.UUID
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutorService}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.util.Progressable

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{CollectLimitExec, SQLExecution}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Access bridge into `private[sql]` Spark internals we legitimately need:
  * Column ↔ catalyst Expression conversion (Spark 4 moved Column onto
  * ColumnNode; `classic.ExpressionUtils` is the sanctioned converter but is
  * package-private), and a session's parquet writer outside a write job
  * (`classic.Dataset.queryExecution`, `SessionState`, the physical plan), and
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
    val changed = job.getConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue)
      .filter { case (k, v) => hadoopDefaults.getRaw(k) != v }.toMap
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

  /** Hadoop's defaults, loaded once per JVM. A slice task rebuilds its job
    * conf as these plus the entries the job changed, instead of receiving
    * the whole conf: that is ~110 KB to serialize and read back per
    * request, which measured ~50 ms of a 20-row sample (4 vCPU). */
  private lazy val hadoopDefaults = new Configuration()

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
