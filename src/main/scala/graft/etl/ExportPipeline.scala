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

    // read back for the verified row count (the reference's test does the
    // same COUNT(*) round trip, test-export.py:104-106). The schema is the
    // one just written, so no inference job runs; the column-less scan
    // still opens every written file's footer, as one job with no shuffle
    // (`Dataset.count` plans a two-stage aggregate)
    val written = spark.read.schema(transformed.schema).parquet(out)
    val rows = written.select().rdd.count()
    require(rows > 0, "export produced zero rows (aborting, reference C3 semantics)")

    Sinks.statsSidecar(s"$outDir/export-stats.json", rows, inputBytes,
      Sinks.pathSize(out))
    Result(rows, out, Sinks.sample(written))
  }
}
