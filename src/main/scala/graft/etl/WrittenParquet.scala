package graft.etl

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition,
  FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetUtils}
import org.apache.spark.sql.types.StructType

/** A Parquet directory Spark has just written, read back without a job
  * where the output is small.
  *
  * `files` are the data files of one Hadoop listing of the directory,
  * in listing order, skipping `_`- and `.`-prefixed names as Spark's
  * file index does (`_SUCCESS`, checksum sidecars).
  */
private[etl] final class WrittenParquet private (spark: SparkSession,
    dir: String, conf: Configuration, files: Array[FileStatus]) {

  /** Bytes of the data files alone. */
  def bytes: Long = files.iterator.map(_.getLen).sum

  /** The row counts in every data file's footer, summed: what a
    * `COUNT(*)` scan returns, since a scan reads whole row groups.
    * Every footer is opened, so a missing, truncated or non-Parquet data
    * file fails here. Up to `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * files the driver reads them; more take one job, as Spark's own
    * parallel listing does. */
  def rowCount(): Long = {
    val sqlConf = spark.sessionState.conf
    if (files.length <= sqlConf.parallelPartitionDiscoveryThreshold)
      files.iterator.map(f => WrittenParquet.footerRows(
        HadoopInputFile.fromStatus(f, conf))).sum
    else {
      val c = new SerializableWritable(conf)
      val paths = files.map(_.getPath.toString).toSeq
      spark.sparkContext.parallelize(paths,
          math.min(paths.size, sqlConf.parallelPartitionDiscoveryParallelism))
        .map(p => WrittenParquet.footerRows(
          HadoopInputFile.fromPath(new Path(p), c.value)))
        .fold(0L)(_ + _)
    }
  }

  /** The rows `spark.read.schema(schema).parquet(dir).limit(n).collect()`
    * returns, read on the driver: the same splits in the same order as
    * the scan's partitions (split by `spark.sql.files.maxPartitionBytes`,
    * longest first, ties in listing order), read by Spark's Parquet
    * reader and deserialized as `collect` does. It stops at `n` rows, so
    * the driver holds at most one reader batch
    * (`spark.sql.parquet.columnarReaderBatchSize` rows) at a time. A
    * schema the vectorized reader cannot read falls back to the
    * `limit(n)` job, because the row-based reader cannot be closed early
    * outside a task. */
  def head(schema: StructType, n: Int): Seq[Row] = {
    val readSchema =
      CharVarcharUtils.replaceCharVarcharWithStringInSchema(schema).toNullable
    if (ParquetUtils.isBatchReadSupportedForSchema(spark.sessionState.conf,
        readSchema)) readHead(readSchema, n)
    else spark.read.schema(schema).parquet(dir).limit(n).collect().toSeq
  }

  private def readHead(readSchema: StructType, n: Int): Seq[Row] = {
    val statuses = files.toSeq.map(FileStatusWithMetadata(_))
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, statuses)))
    // Array.sortBy is stable
    val splits = statuses.flatMap(s => PartitionedFileUtil.splitFiles(s,
        s.getPath, isSplitable = true, maxSplit, InternalRow.empty))
      .toArray.sortBy(_.length)(Ordering[Long].reverse)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      readSchema, new StructType(), readSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val toRow = ExpressionEncoder(RowEncoder.encoderFor(readSchema))
      .resolveAndBind().createDeserializer()
    val out = ArrayBuffer.empty[Row]
    val it = splits.iterator
    while (out.size < n && it.hasNext) {
      val rows = read(it.next())
      try while (out.size < n && rows.hasNext) out += toRow(rows.next().copy())
      finally rows match { case c: AutoCloseable => c.close(); case _ => }
    }
    out.toSeq
  }
}

private[etl] object WrittenParquet {

  /** List `dir` once through Hadoop, with the session's Hadoop conf. */
  def apply(spark: SparkSession, dir: String): WrittenParquet = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(dir)
    val files = path.getFileSystem(conf).listStatus(path).filter { s =>
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    files.find(_.isDirectory).foreach(d => throw new IllegalStateException(
      s"unexpected directory in a Parquet output: ${d.getPath}"))
    new WrittenParquet(spark, dir, conf, files)
  }

  private def footerRows(file: HadoopInputFile): Long = {
    val blocks = ParquetFooterReader.readFooter(file,
      ParquetMetadataConverter.NO_FILTER).getBlocks
    var rows = 0L
    blocks.forEach(b => rows += b.getRowCount)
    rows
  }
}
