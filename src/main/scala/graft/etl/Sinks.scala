package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._

/** Output sinks (SURVEY.md §2.2 K1–K5).
  *
  * Scale stance: the distributed directory-of-parts layout is the default
  * for Parquet; the reference's single-file artifacts (one .parquet,
  * one JSON array, one GeoJSON FeatureCollection — export.py:238-242,
  * parquet2json.py:15-42) are explicit "parity" variants that necessarily
  * serialize through one task or the driver and are documented as
  * small-output-only.
  */
object Sinks {

  /** K1: Parquet with configurable codec (snappy | gzip | zstd).
    * `singleFile` writes one part file through `coalesce(1)`: one task
    * runs the upstream plan and the write, so the write stays one job
    * with no shuffle (under AQE a `repartition(1)` adds a map-stage job)
    * and a sorted input keeps its order. Small outputs only. */
  def parquet(df: DataFrame, path: String, codec: String = "snappy",
      singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).option("compression", codec).parquet(path)
  }

  /** The 100 TB-default parquet layout: directory-partitioned on
    * low-cardinality keys so downstream scans prune whole partitions
    * (PartitionFilters) instead of reading + filtering. */
  def partitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String], codec: String = "snappy"): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", codec)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted managed table: joins/aggregations on the bucket
    * column read co-located data and skip the shuffle entirely —
    * the pre-partitioning strategy for repeatedly-joined 100 TB facts. */
  def bucketedTable(df: DataFrame, tableName: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(tableName)

  /** K2 (parity layout): one file holding a single JSON array, like the
    * reference's converter output (parquet2json.py:40). Collects to the
    * driver — small outputs only. */
  def jsonArrayFile(df: DataFrame, path: String): Unit = {
    val rows = df.toJSON.collect()
    Files.write(Paths.get(path),
      rows.mkString("[\n", ",\n", "\n]").getBytes(StandardCharsets.UTF_8))
  }

  /** K3: GeoJSON FeatureCollection. Feature assembly (null-coordinate
    * filter, [lng,lat] point order, properties = all columns minus the
    * coordinate pair — parquet2json.py:23-38) runs distributed; only the
    * final FeatureCollection wrap touches the driver, which is inherent to
    * the single-JSON-object contract. */
  def geoJsonFile(df: DataFrame, path: String,
      latCol: String = "latitude", lngCol: String = "longitude"): Unit = {
    val props = df.columns.filterNot(c => c == latCol || c == lngCol)
    val feature = to_json(struct(
      lit("Feature").as("type"),
      struct(lit("Point").as("type"),
        array(col(lngCol), col(latCol)).as("coordinates")).as("geometry"),
      struct(props.map(col): _*).as("properties")))
    val features = df.filter(col(latCol).isNotNull && col(lngCol).isNotNull)
      .select(feature.as("f")).collect().map(_.getString(0))
    val fc = features.mkString(
      """{"type": "FeatureCollection", "features": [""" + "\n", ",\n", "\n]}")
    Files.write(Paths.get(path), fc.getBytes(StandardCharsets.UTF_8))
  }

  /** K4: stats sidecar — row count, input/output sizes, compression ratio
    * (export.py:244-262 observable metrics). `inputBytes` is what the
    * caller fed the export: [[ExportMain]] passes the UTF-8 size of the
    * fetched area JSON, where the reference measures its enriched temp
    * file (export.py:216-228), which this pipeline never writes. */
  def statsSidecar(path: String, totalRows: Long, inputBytes: Long,
      outputBytes: Long): Unit = {
    val inMb = inputBytes / 1e6
    val outMb = outputBytes / 1e6
    val ratio = if (outputBytes > 0) inputBytes.toDouble / outputBytes else 0.0
    val savedPct = if (inputBytes > 0) 100.0 * (1 - outputBytes.toDouble / inputBytes) else 0.0
    // Locale.ROOT: default-locale %f would emit comma decimals (invalid
    // JSON) under many locales
    val json = String.format(java.util.Locale.ROOT,
      """{"total_rows": %d, "input_size_mb": %.2f, "output_size_mb": %.2f, "compression_ratio": %.2f, "space_saved_pct": %.1f}""",
      totalRows, inMb, outMb, ratio, savedPct)
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }

  /** K5: sample display — the first `n` rows of `df`
    * (export.py:264-272 behavior), formatted by [[formatSample]]. */
  def sample(df: DataFrame, n: Int = SampleRows, truncateTo: Int = 30): String =
    formatSample(df.columns.toSeq, df.limit(n).collect().toSeq, truncateTo)

  val SampleRows = 5

  /** A header line of column names, then one line per row, values
    * truncated to `truncateTo` chars. */
  def formatSample(columns: Seq[String], rows: Seq[Row],
      truncateTo: Int = 30): String = {
    val lines = rows.map(_.toSeq.map { v =>
      val s = String.valueOf(v)
      if (s.length > truncateTo) s.take(truncateTo - 3) + "..." else s
    }.mkString(" | "))
    (columns.mkString(" | ") +: lines).mkString("\n")
  }

  /** Size of a file, or of the data under a directory (for the stats
    * sidecars): names starting with `_` or `.` (`_SUCCESS`, checksum
    * sidecars) are skipped, as Spark's file index skips them. */
  def pathSize(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.filterNot { x =>
      x.getName.startsWith("_") || x.getName.startsWith(".")
    }.map(x => pathSize(x.getPath)).sum).getOrElse(0L)
  }
}
