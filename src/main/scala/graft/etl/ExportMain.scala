package graft.etl

import org.apache.spark.sql.SparkSession

/** The export CLI — the reference's primary runnable program
  * (export.py:276-310): config → GraphQL fetch → enrich → region filter →
  * user SQL transform → parquet + stats + sample.
  *
  * `run` is the testable core (injectable transport, no exits); `main`
  * wires the real HTTP transport and the process exit codes the reference
  * uses (1 on zero climbs or any failure).
  */
object ExportMain {

  /** args: [configPath] [schemaPath|-] [outDir] — "-" (or omission) selects
    * the built-in canonical schema, letting callers reach the outDir
    * positional without shipping a schema file. */
  def main(args: Array[String]): Unit = {
    val configPath = args.headOption.getOrElse("config.yaml")
    val schemaPath = args.lift(1).filter(_ != "-")
    val outDir = args.lift(2).getOrElse(".")
    val config = GraftConfig.fromYamlFile(configPath)
    val schemaSql = schemaPath
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      .getOrElse(DefaultSchemas.canonical)
    val spark = graft.GraftSession.create()
    // System.exit does not unwind the stack, so stop() must happen first
    val code =
      try run(spark,
        GraphQlApi.fetchAllAreas(FetchClient.httpTransport(120000), _),
        config, schemaSql, outDir)
      finally spark.stop()
    sys.exit(code)
  }

  /** Fetch via `fetchAreas(apiUrl)`, flatten, and export. Returns the
    * process exit code (0 ok, 1 failure — export.py:290-310). */
  def run(spark: SparkSession, fetchAreas: String => Seq[String],
      config: GraftConfig, schemaSql: String = DefaultSchemas.canonical,
      outDir: String = "."): Int =
    try {
      val areaRecords = fetchAreas(config.apiUrl)
      if (areaRecords.isEmpty) {
        System.err.println("WARNING: No areas found!")
        return 1
      }
      val climbs = Enrich.flattenAreas(
        JsonSource.fromRecords(spark, areaRecords, ClimbSchema.area))
      val inputBytes = areaRecords.iterator
        .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
      val result = ExportPipeline.run(spark, climbs, config, schemaSql, outDir,
        inputBytes)
      println(s"Export complete: ${result.outputPath} (${result.rows} rows)")
      println(result.sample)
      0
    } catch {
      case e: Exception =>
        System.err.println(s"ERROR: Export failed: ${e.getMessage}")
        1
    }
}
