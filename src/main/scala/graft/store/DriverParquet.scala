package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Parquet files written and read through Spark's own parquet code,
  * outside Spark's file-source commands:
  *  - [[writer]] runs `ParquetUtils.prepareWrite` once and hands back a
  *    serializable [[Writer]] that opens `OutputWriter`s: the same
  *    format, codec, file naming and footer metadata a write task
  *    produces. The store stages every file this way ([[Catalog]]'s
  *    `stageFiles`): an in-memory batch on the driver, so a point write
  *    runs no Spark job, anything else inside the tasks of ONE job.
  *  - [[read]] runs the function a scan task runs
  *    (`ParquetFileFormat.buildReaderWithPartitionValues`): the same
  *    by-name column resolution, datetime rebasing and vectorized
  *    decoding. The store serves small snapshots this way
  *    ([[DriverReads]]) so a point read runs no Spark job.
  *
  * This is the only place the store calls Spark's internal reader and
  * writer API. */
private[store] object DriverParquet {

  private val format = new ParquetFileFormat

  /** Whether every column of `schema` is writable as parquet. */
  def supports(schema: StructType): Boolean =
    schema.forall(f => format.supportDataType(f.dataType))

  /** Files laid out as `schema`, opened with the writer factory and the
    * job configuration `ParquetUtils.prepareWrite` set up on the driver.
    * Serializable: a write task opens its file with exactly the driver's
    * settings. */
  final class Writer private[DriverParquet] (factory: OutputWriterFactory,
      conf: SerializableConfiguration, schema: StructType)
      extends Serializable {

    /** Open a new file in `dir` named like a task's output,
      * `part-<part>-<uuid>-c000.<codec>.parquet`, through the configured
      * filesystem binding. The UUID is fresh for every call, so two
      * attempts of one task never share a file. Returns the file's path
      * and its writer. */
    def open(dir: String, part: Int): (String, OutputWriter) = {
      val uuid = java.util.UUID.randomUUID().toString
      val attempt = new TaskAttemptID(
        new TaskID(new JobID(uuid.replace("-", ""), 0), TaskType.MAP, part),
        0)
      val ctx = new TaskAttemptContextImpl(conf.value, attempt)
      val path =
        f"$dir/part-$part%05d-$uuid-c000${factory.getFileExtension(ctx)}"
      (path, factory.newInstance(path, schema, ctx))
    }

    /** Delete the file at `path` if it exists (best effort). */
    def discard(path: String): Unit =
      try {
        val p = new Path(path)
        p.getFileSystem(conf.value).delete(p, false)
      } catch { case scala.util.control.NonFatal(_) => }
  }

  /** A [[Writer]] for files laid out as `schema`, bound to `hadoopConf`'s
    * filesystem and `sqlConf`'s parquet settings. */
  def writer(hadoopConf: Configuration, sqlConf: SQLConf,
      schema: StructType): Writer = {
    val job = Job.getInstance(new Configuration(hadoopConf))
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    new Writer(factory, new SerializableConfiguration(job.getConfiguration),
      schema)
  }

  /** Decode each of `paths` whole, with `schema` as the read schema, on
    * the driver: a column a file lacks reads as NULL, exactly as in a
    * scan of the same paths through `spark.read.schema(schema)`. The
    * hadoop conf is the session's (`newHadoopConf`, as a file scan
    * builds it) and the SQL conf is the session's. Returns each file's
    * rows as copied `UnsafeRow`s, in file order. */
  def read(spark: SparkSession, schema: StructType,
      paths: Seq[String]): Seq[Array[InternalRow]] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val reader = format.buildReaderWithPartitionValues(spark, schema,
      new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf)
    val toUnsafe = UnsafeProjection.create(schema)
    paths.map { p =>
      val path = new Path(p)
      val st = path.getFileSystem(hadoopConf).getFileStatus(path)
      val rows = reader(PartitionedFile(InternalRow.empty,
        SparkPath.fromFileStatus(st), 0L, st.getLen, Array.empty,
        st.getModificationTime, st.getLen))
      try rows.map(r => toUnsafe(r).copy(): InternalRow).toArray
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
}
