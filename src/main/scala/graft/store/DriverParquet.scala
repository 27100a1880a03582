package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet files written and read on the driver through Spark's own
  * parquet code, for rows small enough to live in driver memory:
  *  - [[write]] goes through `ParquetUtils.prepareWrite` ->
  *    `OutputWriterFactory` -> `OutputWriter`: the same format, codec,
  *    file naming and footer metadata a write task produces. The store
  *    stages in-memory batches this way ([[Catalog]]'s `stageFiles`) so
  *    a point write runs no Spark job.
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

  /** Write `rows` (laid out as `schema`) as ONE file in `dir`, named like
    * a task's output (`part-00000-<uuid>-c000.<codec>.parquet`), through
    * `hadoopConf`'s filesystem binding. Returns the file's path. */
  def write(hadoopConf: Configuration, sqlConf: SQLConf, dir: String,
      schema: StructType, rows: Iterator[InternalRow]): String = {
    val job = Job.getInstance(new Configuration(hadoopConf))
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val uuid = java.util.UUID.randomUUID().toString
    val attempt = new TaskAttemptID(
      new TaskID(new JobID(uuid.replace("-", ""), 0), TaskType.MAP, 0), 0)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, attempt)
    val path =
      s"$dir/part-00000-$uuid-c000${factory.getFileExtension(ctx)}"
    val w = factory.newInstance(path, schema, ctx)
    try rows.foreach(w.write) finally w.close()
    path
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
