package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** One parquet file written on the driver through Spark's own parquet
  * writer (`ParquetUtils.prepareWrite` -> `OutputWriterFactory` ->
  * `OutputWriter`): the same format, codec, file naming and footer
  * metadata a write task produces, for rows that are already in driver
  * memory. The store stages in-memory batches this way
  * ([[Catalog]]'s `stageFiles`) so a point write runs no Spark job.
  *
  * This is the only place the store calls Spark's internal writer API. */
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
}
