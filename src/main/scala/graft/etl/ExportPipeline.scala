package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end export pipeline (SURVEY.md §3.1): records → (enrich) →
  * region filter → user SQL transform → parquet + stats + sample.
  *
  * Mirrors the reference's observable pipeline semantics (export.py
  * main()): the F5 region pre-filter is a no-op when `regions` is empty,
  * a zero-row input or zero-row transform aborts (C3), and the stats
  * sidecar reports row count / sizes / compression ratio (K4).
  *
  * The write is the export's only Spark job (for a transform without
  * shuffles of its own). The read-back lists the output once: the row
  * count sums the row counts in every part file's footer, read on the
  * driver up to `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * files and in one more job above it; the sample is read on the driver
  * by Spark's Parquet reader, the rows a `limit(5)` scan returns. The
  * driver holds the footers and at most one reader batch of one file.
  */
object ExportPipeline {

  final case class Result(rows: Long, outputPath: String, sample: String)

  /** Run from an already-loaded climbs DataFrame (the fetch client or any
    * JSON source feeds this; tests feed fixtures). */
  def run(spark: SparkSession, climbs: DataFrame, config: GraftConfig,
      schemaSql: String = DefaultSchemas.canonical,
      outDir: String = ".", inputBytes: Long = 0L,
      singleFile: Boolean = false): Result = {

    val filtered =
      if (config.regions.isEmpty) climbs
      else climbs.filter(
        element_at(col("pathTokens"), 1).isin(config.regions: _*))

    JsonSource.registerClimbs(filtered)
    val transformed = SqlTransform(spark, schemaSql)

    val out = s"$outDir/${config.outputFilename}"
    Sinks.parquet(transformed, out, config.compression, singleFile)

    // verified row count: the reference's test reads the output back with
    // a COUNT(*) (test-export.py:104-106), which DuckDB answers from the
    // footers; so does this, from one listing of the written files
    val written = WrittenParquet(spark, out)
    val rows = written.rowCount()
    require(rows > 0, "export produced zero rows (aborting, reference C3 semantics)")

    Sinks.statsSidecar(s"$outDir/export-stats.json", rows, inputBytes,
      written.bytes)
    Result(rows, out, Sinks.formatSample(transformed.columns.toSeq,
      written.head(transformed.schema, Sinks.SampleRows)))
  }
}
