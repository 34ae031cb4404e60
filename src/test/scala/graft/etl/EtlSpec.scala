package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec

/** Reference-parity golden tests for the ETL slice (SURVEY.md §7 "minimum
  * end-to-end slice"): fixture JSON → canonical/minimal/usa projections,
  * enrichment, sinks, config, fetch-client control flow. */
class EtlSpec extends SparkSpec {

  private def fixture(name: String): String =
    getClass.getResource(s"/$name").getPath

  private lazy val climbs = JsonSource.registerClimbs(
    JsonSource.readArrayFile(spark, fixture("climbs_fixture.json")))

  test("canonical 22-column transform with 1-based list_element and NULL out of range") {
    climbs // force view registration
    val out = SqlTransform(spark, DefaultSchemas.canonical)
    assert(out.columns.toSeq === Seq("climb_id", "climb_name", "grade_yds",
      "grade_vscale", "grade_french", "is_sport", "is_trad", "is_boulder",
      "is_alpine", "is_top_rope", "country", "state_province", "region",
      "area", "crag", "latitude", "longitude", "length_meters", "bolts_count",
      "first_ascent", "safety", "description"))
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size === 4)
    val full = rows("c1-full-sport")
    assert(full.getAs[String]("country") === "USA")
    assert(full.getAs[String]("crag") === "El Cap Base")
    assert(full.getAs[Boolean]("is_sport"))
    assert(full.getAs[Double]("latitude") === 37.7)
    // 2-token path: region (index 3) and beyond must be NULL, not an error
    val sparse = rows("c2-sparse-boulder")
    assert(sparse.getAs[String]("state_province") === "Colorado")
    assert(sparse.getAs[String]("region") === null)
    assert(sparse.getAs[String]("crag") === null)
    assert(sparse.getAs[String]("grade_vscale") === "V4")
    assert(sparse.getAs[String]("grade_yds") === null)
  }

  test("minimal schema: COALESCE defaults fire and NOT NULL filter drops null coords") {
    climbs
    val out = SqlTransform(spark, DefaultSchemas.minimal).collect()
      .map(r => r.getString(0) -> r).toMap
    // c2 (null metadata) and c4 (null metadata) filtered out
    assert(out.keySet === Set("c1-full-sport", "c3-canada-trad"))
    val c3 = out("c3-canada-trad")
    assert(c3.getAs[String]("grade") === "5.8")
  }

  test("usa-sport-only: conjunctive filter keeps exactly the USA sport route with coords") {
    climbs
    val out = SqlTransform(spark, DefaultSchemas.usaSportOnly).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("c1-full-sport"))
  }

  test("region pre-filter is a no-op when regions empty, filters otherwise") {
    val dir = tmpDir("graft-export")
    val all = ExportPipeline.run(spark, climbs,
      GraftConfig(outputFilename = "all.parquet"), outDir = dir)
    assert(all.rows === 4)
    val usa = ExportPipeline.run(spark, climbs,
      GraftConfig(regions = Seq("USA"), outputFilename = "usa.parquet"),
      outDir = dir)
    assert(usa.rows === 3)
  }

  test("export read-back: rows and sample equal an inferred-schema read of " +
      "the output, for every stock schema; zero rows still abort (C3)") {
    val dir = tmpDir("graft-readback")
    for ((name, sql) <- Seq("canonical" -> DefaultSchemas.canonical,
        "minimal" -> DefaultSchemas.minimal,
        "usa" -> DefaultSchemas.usaSportOnly,
        "extended" -> DefaultSchemas.extended)) {
      val res = ExportPipeline.run(spark, climbs,
        GraftConfig(outputFilename = s"$name.parquet"), sql, dir)
      val inferred = spark.read.parquet(res.outputPath)
      assert(res.rows === inferred.count(), name)
      assert(res.sample === Sinks.sample(inferred), name)
    }
    val e = intercept[IllegalArgumentException] {
      ExportPipeline.run(spark, climbs,
        GraftConfig(regions = Seq("Narnia"), outputFilename = "none.parquet"),
        outDir = dir)
    }
    assert(e.getMessage.contains("export produced zero rows"))
  }

  test("export-stats.json output_size_mb is the part files' bytes: no " +
      "checksum sidecars, no _SUCCESS") {
    val dir = tmpDir("graft-outsize")
    // ~5 MB of incompressible hex, so the ~0.8% of .crc bytes shows at
    // the sidecar's two decimals
    val wide = spark.range(0, 40000, 1, 2)
      .selectExpr("id", "sha2(CAST(id AS STRING), 512) AS h")
    val res = ExportPipeline.run(spark, wide, GraftConfig(
      outputFilename = "wide.parquet", compression = "uncompressed"),
      "SELECT id, h FROM climbs", dir)
    val files = new java.io.File(res.outputPath).listFiles().toSeq
    val partBytes = files.filter(_.getName.startsWith("part-")).map(_.length).sum
    val allBytes = files.map(_.length).sum
    assert(files.exists(_.getName.endsWith(".crc")) &&
      files.exists(_.getName == "_SUCCESS"))
    assert(allBytes / 1e6 - partBytes / 1e6 > 0.02) // the sidecars show
    val stats = new ObjectMapper().readTree(new java.io.File(s"$dir/export-stats.json"))
    assert(math.abs(stats.get("output_size_mb").asDouble() - partBytes / 1e6) <= 0.005)
    assert(Sinks.pathSize(res.outputPath) === partBytes)
  }

  test("enrichment: child inherits area pathTokens and lat+lng together (E1/E2)") {
    val areas = spark.read.option("multiLine", "true")
      .schema(ClimbSchema.area).json(fixture("areas_fixture.json"))
    val flat = Enrich.flattenAreas(areas).collect()
      .map(r => r.getAs[String]("uuid") -> r).toMap
    assert(flat.size === 2)
    val inh = flat("a1-inherits-both")
    assert(inh.getAs[Seq[String]]("pathTokens") === Seq("USA", "Utah", "Indian Creek"))
    val meta = inh.getStruct(inh.fieldIndex("metadata"))
    assert(meta.getDouble(0) === 38.0 && meta.getDouble(1) === -109.5)
    val own = flat("a1-keeps-own")
    assert(own.getAs[Seq[String]]("pathTokens").last === "Supercrack Buttress")
    assert(own.getStruct(own.fieldIndex("metadata")).getDouble(0) === 38.1)
  }

  test("parquet sink round-trips with each codec") {
    val dir = tmpDir("graft-codec")
    for (codec <- Seq("snappy", "gzip", "zstd")) {
      Sinks.parquet(climbs, s"$dir/$codec", codec)
      assert(spark.read.parquet(s"$dir/$codec").count() === 4)
    }
  }

  test("geojson sink: FeatureCollection with [lng,lat] and coords removed from properties") {
    JsonSource.registerClimbs(climbs) // earlier tests may have re-bound the view
    val out = SqlTransform(spark, DefaultSchemas.canonical)
    val path = s"${tmpDir("graft-geo")}/out.geojson"
    Sinks.geoJsonFile(out, path)
    val root = new ObjectMapper().readTree(new java.io.File(path))
    assert(root.get("type").asText() === "FeatureCollection")
    val feats = root.get("features")
    assert(feats.size() === 2) // null-coordinate rows dropped
    val f = feats.get(0)
    assert(f.get("geometry").get("type").asText() === "Point")
    val coords = f.get("geometry").get("coordinates")
    assert(math.abs(coords.get(0).asDouble()) > 90) // lng first
    assert(!f.get("properties").has("latitude"))
    assert(!f.get("properties").has("longitude"))
    assert(f.get("properties").has("climb_id"))
  }

  test("json array sink: single file holding one parseable array") {
    val path = s"${tmpDir("graft-json")}/out.json"
    Sinks.jsonArrayFile(climbs.select("uuid", "name"), path)
    val root = new ObjectMapper().readTree(new java.io.File(path))
    assert(root.isArray && root.size() === 4)
  }

  test("stats sidecar: row count + compression ratio fields") {
    val dir = tmpDir("graft-stats")
    Sinks.statsSidecar(s"$dir/export-stats.json", 100L, 2000000L, 500000L)
    val n = new ObjectMapper().readTree(new java.io.File(s"$dir/export-stats.json"))
    assert(n.get("total_rows").asLong() === 100L)
    assert(math.abs(n.get("compression_ratio").asDouble() - 4.0) < 1e-9)
    assert(math.abs(n.get("space_saved_pct").asDouble() - 75.0) < 1e-9)
  }

  test("config.yaml parsing: api_url, regions, output filename + codec") {
    val c = GraftConfig.fromYaml(
      """api_url: https://example.org/graphql
        |regions:
        |  - USA
        |  - Canada
        |output:
        |  filename: climbs.parquet
        |  compression: zstd
        |""".stripMargin)
    assert(c.apiUrl === "https://example.org/graphql")
    assert(c.regions === Seq("USA", "Canada"))
    assert(c.outputFilename === "climbs.parquet")
    assert(c.compression === "zstd")
    // empty regions -> worldwide
    assert(GraftConfig.fromYaml("regions: []").regions.isEmpty)
    // the reference's own nested layout (everything under `export:`)
    val nested = GraftConfig.fromYaml(
      """export:
        |  api_url: "https://example.org/graphql"
        |  regions: []
        |  output:
        |    filename: "climbs.parquet"
        |    compression: "snappy"
        |""".stripMargin)
    assert(nested.apiUrl === "https://example.org/graphql")
    assert(nested.outputFilename === "climbs.parquet")
    assert(nested.compression === "snappy")
  }

  test("fetch pagination stops on short page; retry ladder retries 502 then succeeds") {
    var calls = 0
    val got = FetchClient.paginate[Int](pageSize = 500) { (offset, limit) =>
      calls += 1
      val remaining = 1200 - offset
      (0 until math.min(limit, math.max(0, remaining))).map(offset + _)
    }
    assert(got.size === 1200 && calls === 3)

    var attempts = 0
    val transport: FetchClient.Transport = (_, _) => {
      attempts += 1
      if (attempts < 3) (503, "bad gateway") else (200, "ok")
    }
    val (code, body) = FetchClient.postWithRetry(transport, "http://x", "{}",
      FetchClient.RetryPolicy(attempts = 3, backoffMs = 1))
    assert(code === 200 && body === "ok" && attempts === 3)

    // exhausted retries surface the last retryable status
    var n2 = 0
    val always503: FetchClient.Transport = (_, _) => { n2 += 1; (503, "nope") }
    val (code2, _) = FetchClient.postWithRetry(always503, "http://x", "{}",
      FetchClient.RetryPolicy(attempts = 3, backoffMs = 1))
    assert(code2 === 503 && n2 === 3)

    // per-unit failure isolation keeps other units' results
    val out = FetchClient.fetchUnits(Seq("ok1", "boom", "ok2")) {
      case "boom" => throw new RuntimeException("unit down")
      case u => Seq(u)
    }
    assert(out === Seq("ok1", "ok2"))
  }
}
