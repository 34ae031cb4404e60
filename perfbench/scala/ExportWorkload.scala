package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.etl.{ClimbSchema, Enrich, ExportPipeline, FetchClient, GraftConfig, GraphQlApi, JsonSource}

/** The paper's job: fetch every country's areas page by page, flatten
  * the climbs, run the user's schema SQL and write Parquet — the calls
  * `ExportMain.run` makes, fed by an in-process transport. Jobs cycle
  * through the four stock schemas × snappy/zstd/gzip. */
final class ExportWorkload extends Workload {
  val Climbs = 6000
  val PageSize: Int = GraphQlApi.AreasPageSize

  private var data: Gen.ExportData = _
  private var pages: Map[(String, Int), String] = Map.empty
  private var outDir: String = _
  private var cursor = 0
  private val mapper = new ObjectMapper()
  private val failed = scala.collection.mutable.Set.empty[(String, Int)]
  private var served = 0L
  private var refused = 0L

  /** The in-process GraphQL endpoint: serves pre-rendered pages; a
    * seeded share of pages answers 503 the first time it is asked for
    * in each job. */
  private val transport: FetchClient.Transport = (_, body) => {
    val vars = mapper.readTree(body).path("variables")
    if (vars.isMissingNode) {
      val root = mapper.createObjectNode()
      val arr = root.putObject("data").putArray("countries")
      data.countries.foreach(c => arr.addObject().put("areaName", c))
      (200, mapper.writeValueAsString(root))
    } else {
      val key = (vars.path("tokens").get(0).asText(), vars.path("offset").asInt())
      if (data.failOnce(key) && failed.add(key)) { refused += 1; (503, "") }
      else {
        served += 1
        (200, pages.getOrElse(key, """{"data":{"areas":[]}}"""))
      }
    }
  }

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    data = Gen.export(seed, Climbs, PageSize)
    pages = (for {
      c <- data.countries
      areas = data.areas(c)
      off <- 0 to areas.size by PageSize
    } yield (c, off) -> areas.slice(off, off + PageSize)
      .mkString("""{"data":{"areas":[""", ",", "]}}")).toMap
    outDir = s"$dir/out"
    cursor = 0
  }

  private val combos = for (s <- Gen.Schemas; c <- Gen.Codecs) yield (s, c)

  private def job(spark: SparkSession, tr: Tracer, schema: (String, String),
      codec: String): ExportPipeline.Result = {
    failed.clear()
    val areas = tr.span("etl.fetch")(GraphQlApi.fetchAllAreas(transport,
      "graphql", policy = FetchClient.RetryPolicy(backoffMs = 0)))
    val climbs = tr.span("etl.build")(Enrich.flattenAreas(
      JsonSource.fromRecords(spark, areas, ClimbSchema.area)))
    tr.span("etl.export")(ExportPipeline.run(spark, climbs,
      GraftConfig(regions = Gen.regionsFor(schema._1),
        outputFilename = s"${schema._1}-$codec.parquet", compression = codec),
      schema._2, outDir))
  }

  def warmup(spark: SparkSession): Unit =
    job(spark, new Tracer(false), Gen.Schemas.head, "snappy")

  def measure(spark: SparkSession, seconds: Double, tr: Tracer, rec: Rec): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    // whole cycles, at least one: every run does the same mix of jobs, and
    // every schema is written in every codec
    while (n % combos.size != 0 || n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (schema, codec) = combos(cursor % combos.size)
      cursor += 1
      n += 1
      rec.attempted += 1
      val (s0, r0) = (served, refused)
      val (res, ms) = Clock.ms(tr.op("export.job")(job(spark, tr, schema, codec)))
      rec.sample("job_ms", ms)
      rec.sample(s"job.${schema._1}.$codec", ms)
      rec.add("climbs", data.nClimbs)
      rec.add("fetch_pages", served - s0)
      rec.add("fetch_retries", refused - r0)
      val out = new java.io.File(res.outputPath)
      rec.add("write_bytes", Clock.dirBytes(out))
      rec.add("write_files", Clock.dirFiles(out, ".parquet"))
      val want = data.expectedRows(schema._1)
      rec.check(res.rows == want,
        s"export ${schema._1}/$codec wrote ${res.rows} rows, generator says $want")
    }
  }

  def check(spark: SparkSession, rec: Rec, out: String): Unit =
    Gen.Schemas.foreach { case (schema, _) =>
      val hashes = Gen.Codecs.map { codec =>
        val df = spark.read.parquet(s"$outDir/$schema-$codec.parquet")
        // order-insensitive: an exact sum of per-row hashes, plus the count
        val r = df.agg(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")),
          count(lit(1))).collect().head
        (Option(r.get(0)).map(_.toString).getOrElse("0"), r.getLong(1))
      }
      rec.check(hashes.distinct.size == 1,
        s"export $schema: row hash differs across codecs: $hashes")
    }
}
