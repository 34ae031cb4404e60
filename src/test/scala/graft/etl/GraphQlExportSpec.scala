package graft.etl

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** End-to-end tests for the GraphQL query layer + export CLI core
  * (SURVEY.md §2.1 S1/S2, §2.10 C4): request bodies, envelope unpacking,
  * errors-key semantics (hard at countries level, soft per country),
  * pagination against a fake transport, and the full
  * fetch→enrich→transform→parquet run reproducing export.py main().
  */
/** The fake API lives in the companion so the distributed-fetch test can
  * ship a serializable transport FACTORY to executors (the ObjectMapper is
  * built inside the factory, never serialized). */
object GraphQlExportSpec {

  def areaJson(uuid: String, path: Seq[String], lat: Option[Double],
      climbs: Seq[String]): String = {
    val p = path.map(s => s""""$s"""").mkString("[", ",", "]")
    val meta = lat.map(v => s"""{"lat": $v, "lng": ${v + 1.0}}""").getOrElse("null")
    s"""{"uuid": "$uuid", "area_name": "$uuid", "pathTokens": $p,
        "metadata": $meta, "climbs": [${climbs.mkString(",")}]}"""
  }

  def climbJson(uuid: String, path: Option[Seq[String]],
      lat: Option[Double]): String = {
    val p = path.map(_.map(s => s""""$s"""").mkString("[", ",", "]")).getOrElse("null")
    val meta = lat.map(v => s"""{"lat": $v, "lng": ${v + 1.0}}""").getOrElse("null")
    s"""{"uuid": "$uuid", "name": "route $uuid", "fa": null, "length": 10,
        "boltsCount": 2, "grades": {"yds": "5.9"}, "type": {"sport": true},
        "safety": null, "metadata": $meta,
        "content": {"description": "d"}, "pathTokens": $p}"""
  }

  /** Fake transport: 2 countries; USA has 3 areas served at page size 2
    * (one full + one short page); Atlantis answers every areas request
    * with a GraphQL errors envelope (soft per-country failure, C4). */
  def mkFakeTransport: () => FetchClient.Transport = () => {
    val mapper = new ObjectMapper()
    (_, body) => {
      val req = mapper.readTree(body)
      val q = req.get("query").asText()
      if (q.contains("GetCountries"))
        (200, """{"data": {"countries": [
            {"areaName": "USA"}, {"areaName": "Atlantis"}]}}""")
      else {
        val vars = req.get("variables")
        val country = vars.get("tokens").get(0).asText()
        val offset = vars.get("offset").asInt()
        if (country == "Atlantis")
          (200, """{"data": null, "errors": [{"message": "sunken"}]}""")
        else {
          val usaAreas = Seq(
            areaJson("area-1", Seq("USA", "Utah", "Indian Creek"), Some(38.0),
              Seq(climbJson("cl-inherit", None, None),
                climbJson("cl-own", Some(Seq("USA", "Utah", "IC", "Buttress")), Some(38.1)))),
            areaJson("area-2", Seq("USA", "Nevada"), None,
              Seq(climbJson("cl-zero-lat", None, Some(0.0)))),
            areaJson("area-3", Seq("USA", "Arizona"), Some(34.0), Seq.empty))
          val page = usaAreas.slice(offset, offset + vars.get("limit").asInt())
          (200, s"""{"data": {"areas": [${page.mkString(",")}]}}""")
        }
      }
    }
  }
  /** Attempt log for the retry-isolation test: country → POST attempts
    * observed across all partitions. Executors share the JVM in local
    * mode, so a concurrent map in the companion is visible test-side. */
  val attemptLog = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Fake transport for the retry-isolation test: 6 countries, one area
    * each, with per-country failure personalities —
    *  - good-1 / good-2: answer immediately;
    *  - flaky-502: 502 on the first areas attempt, then 200 (retryable
    *    status — [[FetchClient.postWithRetry]] must retry in place);
    *  - flaky-timeout: HttpTimeoutException on the first attempt, then
    *    200 (retryable transport error);
    *  - dead-500: always 500 (non-retryable → soft per-country failure);
    *  - dead-errors: always a GraphQL errors envelope (soft failure).
    * Transient state (first-attempt-failed flags) lives in the transport
    * INSTANCE, so each partition's retry ladder is self-contained. */
  def mkRetryTransport: () => FetchClient.Transport = () => {
    val mapper = new ObjectMapper()
    val failedOnce = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    (_, body) => {
      val req = mapper.readTree(body)
      if (req.get("query").asText().contains("GetCountries"))
        (200, """{"data": {"countries": [
            {"areaName": "good-1"}, {"areaName": "good-2"},
            {"areaName": "flaky-502"}, {"areaName": "flaky-timeout"},
            {"areaName": "dead-500"}, {"areaName": "dead-errors"}]}}""")
      else {
        val country = req.get("variables").get("tokens").get(0).asText()
        attemptLog.merge(country, 1, (a, b) => a + b)
        def page = (200, s"""{"data": {"areas": [${
          areaJson(s"area-$country", Seq(country), None, Seq.empty)}]}}""")
        country match {
          case "dead-500"   => (500, "ise")
          case "dead-errors" => (200, """{"errors": [{"message": "nope"}]}""")
          case "flaky-502" =>
            if (failedOnce.putIfAbsent(country, true) == null) (502, "bad gateway")
            else page
          case "flaky-timeout" =>
            if (failedOnce.putIfAbsent(country, true) == null)
              throw new java.net.http.HttpTimeoutException("slow")
            else page
          case _ => page
        }
      }
    }
  }
}

class GraphQlExportSpec extends SparkSpec {
  import GraphQlExportSpec.{areaJson, climbJson, mkFakeTransport}

  private val mapper = new ObjectMapper()

  private def fakeTransport: FetchClient.Transport = mkFakeTransport()

  // -- request construction + envelope unpacking ----------------------------

  test("request bodies carry the query text and variables (S1/S2)") {
    val c = mapper.readTree(GraphQlApi.countriesBody)
    assert(c.get("query").asText().contains("countries"))
    val a = mapper.readTree(GraphQlApi.areasBody(Seq("USA"), 500, 1000))
    assert(a.get("query").asText().contains("areas(filter:"))
    assert(a.get("variables").get("tokens").get(0).asText() === "USA")
    assert(a.get("variables").get("limit").asInt() === 500)
    assert(a.get("variables").get("offset").asInt() === 1000)
  }

  test("countries envelope unpacks areaName; errors key raises (C4 hard)") {
    val names = GraphQlApi.parseCountries(
      """{"data": {"countries": [{"areaName": "USA"}, {"areaName": "Peru"}]}}""")
    assert(names === Seq("USA", "Peru"))
    val e = intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.parseCountries("""{"errors": [{"message": "boom"}]}""")
    }
    assert(e.getMessage.contains("boom"))
  }

  test("areas envelope yields raw area JSON; errors key raises (C4)") {
    val areas = GraphQlApi.parseAreasPage(
      s"""{"data": {"areas": [${areaJson("a", Seq("USA"), Some(1.0), Seq.empty)}]}}""")
    assert(areas.size === 1)
    assert(mapper.readTree(areas.head).get("uuid").asText() === "a")
    intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.parseAreasPage("""{"errors": [{"message": "nope"}]}""")
    }
  }

  test("areas envelope: an errors key raises before or after data (C4)") {
    val page = s"""{"data": {"areas": [${
      areaJson("a", Seq("USA"), Some(1.0), Seq.empty)}]}, "errors": [{"message": "late"}]}"""
    val late = intercept[GraphQlApi.GraphQlErrors](GraphQlApi.parseAreasPage(page))
    assert(late.detail === """[{"message":"late"}]""")
    val early = intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.parseAreasPage(
        """{"errors": [{"message": "early", "path": ["areas"]}], "data": {"areas": []}}""")
    }
    assert(early.detail === """[{"message":"early","path":["areas"]}]""")
    assert(intercept[GraphQlApi.GraphQlErrors](
      GraphQlApi.parseAreasPage("""{"data": null, "errors": null}""")).detail === "null")
  }

  test("areas sliced raw from the page flatten to the rows of the " +
      "tree-serialized areas (unicode escapes, nested arrays, nulls)") {
    val page = """{"data": {"areas": [
      {"uuid": "caf~u00e9", "area_name": "Café ~ud83e~uddd7 \"Wall\"",
       "pathTokens": ["USA", "Utah ~u2014 North", "🧗", null],
       "metadata": {"lat": 3.80e1, "lng": -109.50},
       "extra": [[1, [2, null]], {"k": [null]}],
       "climbs": [
         {"uuid": "c1", "name": "back\\slash\nline", "fa": null,
          "length": 12, "boltsCount": null,
          "grades": {"yds": "5.10+", "vscale": null, "french": "6a"},
          "type": {"sport": true, "trad": null, "bouldering": false},
          "safety": null, "metadata": {"lat": 0.0, "lng": 0.0},
          "content": {"description": "tést \t tab"},
          "pathTokens": ["USA", ["nested", ["deeper"]], null]},
         {"uuid": "c2", "name": null, "metadata": null, "pathTokens": []},
         null]},
      {"uuid": "empty", "area_name": null, "pathTokens": null,
       "metadata": null, "climbs": []},
      {"uuid": "nulls", "climbs": null}
    ]}}""".replace("~u", "\\u") // JSON unicode escapes: Scala decodes them in the literal
    assert(page.contains("\\u00e9")) // JSON escapes reach the parser
    val raw = GraphQlApi.parseAreasPage(page)
    val tree = mapper.readTree(page).path("data").path("areas").elements()
      .asScala.map(_.toString).toSeq
    assert(raw.map(mapper.readTree) === tree.map(mapper.readTree))
    assert(raw !== tree) // the slices are the page's own text
    def rows(records: Seq[String]) = Enrich.flattenAreas(
      JsonSource.fromRecords(spark, records, ClimbSchema.area))
      .collect().toSeq.sortBy(_.toString)
    val got = rows(raw)
    assert(got.nonEmpty && got === rows(tree))
  }

  test("single-area fetch: body carries the uuid; envelope unpacks data.area") {
    val b = mapper.readTree(GraphQlApi.areaBody("abc-123"))
    // the uuid rides in variables (never interpolated into the document —
    // a quote/backslash in it would malform or inject GraphQL)
    assert(b.get("query").asText().contains("area(uuid: $uuid)"))
    assert(b.get("variables").get("uuid").asText() === "abc-123")
    assert(!b.get("query").asText().contains("abc-123"))
    val got = GraphQlApi.parseArea(
      s"""{"data": {"area": ${areaJson("a1", Seq("USA"), Some(1.0), Seq.empty)}}}""")
    assert(mapper.readTree(got.get).get("uuid").asText() === "a1")
    assert(GraphQlApi.parseArea("""{"data": {"area": null}}""").isEmpty)
    intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.parseArea("""{"errors": [{"message": "x"}]}""")
    }
    // through the transport with retry: one smoke area end-to-end
    val t: FetchClient.Transport = (_, _) =>
      (200, s"""{"data": {"area": ${areaJson("a2", Seq("USA"), None,
        Seq(climbJson("c1", None, None)))}}}""")
    val area = GraphQlApi.fetchArea(t, "http://x", "a2").get
    assert(mapper.readTree(area).get("climbs").size() === 1)
  }

  // -- fetch orchestration --------------------------------------------------

  test("per-country pagination stops on short page; soft failures keep partials") {
    val areas = GraphQlApi.fetchCountryAreas(fakeTransport, "http://x", "USA",
      pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1))
    assert(areas.size === 3) // page of 2 + short page of 1

    // a country answering with a GraphQL errors envelope contributes zero
    // rows but does not throw (export.py:126-128)
    val sunk = GraphQlApi.fetchCountryAreas(fakeTransport, "http://x",
      "Atlantis", pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1))
    assert(sunk.isEmpty)

    // errors envelope on page 2: page 1's areas are kept (partial)
    var calls = 0
    val flaky: FetchClient.Transport = (_, b) => {
      calls += 1
      val off = mapper.readTree(b).get("variables").get("offset").asInt()
      if (off == 0)
        (200, s"""{"data": {"areas": [${
          areaJson("a1", Seq("X"), None, Seq.empty)},${
          areaJson("a2", Seq("X"), None, Seq.empty)}]}}""")
      else (200, """{"errors": [{"message": "mid-country"}]}""")
    }
    val partial = GraphQlApi.fetchCountryAreas(flaky, "http://x", "X",
      pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1))
    assert(partial.size === 2 && calls === 2)

    // 500 after retries: partial, not an exception (export.py:121-123)
    val broken: FetchClient.Transport = (_, _) => (500, "ise")
    assert(GraphQlApi.fetchCountryAreas(broken, "http://x", "X",
      pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1)).isEmpty)
  }

  test("fetchAllAreas: hard failure on countries errors, soft per country") {
    val all = GraphQlApi.fetchAllAreas(fakeTransport, "http://x",
      pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1))
    assert(all.size === 3) // Atlantis contributes nothing, USA all 3

    val deadCountries: FetchClient.Transport = (_, b) =>
      if (mapper.readTree(b).get("query").asText().contains("GetCountries"))
        (200, """{"errors": [{"message": "outage"}]}""")
      else (200, "{}")
    intercept[GraphQlApi.GraphQlErrors] {
      GraphQlApi.fetchAllAreas(deadCountries, "http://x")
    }
    val down: FetchClient.Transport = (_, _) => (500, "down")
    intercept[RuntimeException] {
      GraphQlApi.fetchAllAreas(down, "http://x")
    }
  }

  test("distributed fetch: countries fan out over executors, same soft semantics") {
    val ds = GraphQlApi.fetchAllAreasDistributed(spark, mkFakeTransport,
      "http://x", pageSize = 2, FetchClient.RetryPolicy(backoffMs = 1),
      parallelism = 2)
    val areas = ds.collect()
    assert(areas.length === 3) // USA's 3 areas; Atlantis soft-fails to zero
    assert(areas.forall(a => mapper.readTree(a).get("uuid").asText().startsWith("area-")))
  }

  test("distributed fetch parity: per-partition fetch returns the exact " +
      "area set of the driver-side path") {
    val policy = FetchClient.RetryPolicy(backoffMs = 1)
    val driverSide = GraphQlApi.fetchAllAreas(fakeTransport, "http://x",
      pageSize = 2, policy)
    // parallelism > #countries exercises the partition clamp too
    val distributed = GraphQlApi.fetchAllAreasDistributed(spark,
      mkFakeTransport, "http://x", pageSize = 2, policy, parallelism = 8)
      .collect().toSeq
    assert(distributed.sorted === driverSide.sorted)
  }

  test("distributed fetch: per-partition retry isolation — transient " +
      "failures retry in place, permanent ones soft-fail only their country") {
    GraphQlExportSpec.attemptLog.clear()
    val ds = GraphQlApi.fetchAllAreasDistributed(spark,
      GraphQlExportSpec.mkRetryTransport, "http://x", pageSize = 2,
      FetchClient.RetryPolicy(attempts = 3, backoffMs = 1), parallelism = 3)
    val got = ds.collect().map(a => mapper.readTree(a).get("uuid").asText()).sorted
    // the 4 healthy-or-transient countries contribute exactly their area;
    // both dead countries soft-fail to zero without poisoning the others
    assert(got === Array("area-flaky-502", "area-flaky-timeout",
      "area-good-1", "area-good-2"))
    val log = GraphQlExportSpec.attemptLog
    // transient failures were retried INSIDE the partition (2 attempts:
    // one failure + one success), not resurfaced as unit failures
    assert(log.get("flaky-502") === 2)
    assert(log.get("flaky-timeout") === 2)
    // the non-retryable 500 returns immediately (postWithRetry only
    // retries 502/503/504); the errors envelope is a parsed 200
    assert(log.get("dead-500") === 1)
    assert(log.get("dead-errors") === 1)
    assert(log.get("good-1") === 1 && log.get("good-2") === 1)
  }

  // -- the runnable surface -------------------------------------------------

  test("ExportMain.run: fetch → enrich → transform → parquet with stats (export.py main)") {
    val dir = tmpDir("graft-export-main")
    val code = ExportMain.run(spark,
      GraphQlApi.fetchAllAreas(fakeTransport, _, pageSize = 2,
        FetchClient.RetryPolicy(backoffMs = 1)),
      GraftConfig(apiUrl = "http://x", outputFilename = "climbs.parquet"),
      outDir = dir)
    assert(code === 0)
    val out = spark.read.parquet(s"$dir/climbs.parquet")
      .collect().map(r => r.getAs[String]("climb_id") -> r).toMap
    assert(out.keySet === Set("cl-inherit", "cl-own", "cl-zero-lat"))
    // inheritance applied through the pipeline: area path + coords
    val inh = out("cl-inherit")
    assert(inh.getAs[String]("country") === "USA")
    assert(inh.getAs[String]("region") === "Indian Creek")
    assert(inh.getAs[Double]("latitude") === 38.0)
    val own = out("cl-own")
    assert(own.getAs[Double]("latitude") === 38.1)
    // falsy 0.0 lat inherits the area's coords — but area-2 has none, so
    // the climb keeps its zero coordinate
    assert(out("cl-zero-lat").getAs[Double]("latitude") === 0.0)
    assert(new java.io.File(s"$dir/export-stats.json").exists())

    // zero areas → exit 1 (export.py:290-292)
    assert(ExportMain.run(spark, _ => Seq.empty,
      GraftConfig(apiUrl = "http://x"), outDir = dir) === 1)
    // zero rows after filtering → exit 1 (C3, export.py:297-299)
    assert(ExportMain.run(spark,
      GraphQlApi.fetchAllAreas(fakeTransport, _, pageSize = 2,
        FetchClient.RetryPolicy(backoffMs = 1)),
      GraftConfig(apiUrl = "http://x", regions = Seq("Narnia")),
      outDir = dir) === 1)
  }

  test("ExportMain.run: the stats sidecar reports the fetched JSON's size") {
    // the fake API's areas, with enough climbs that the fetched JSON is
    // at least 0.01 MB, the sidecar's resolution
    val climbs = (1 to 60).map(i => climbJson(s"cl-$i", None, Some(i.toDouble)))
    val page = s"""{"data": {"areas": [${
      areaJson("area-big", Seq("USA", "Utah"), Some(38.0), climbs)}]}}"""
    val big: FetchClient.Transport = (_, b) =>
      if (mapper.readTree(b).get("query").asText().contains("GetCountries"))
        (200, """{"data": {"countries": [{"areaName": "USA"}]}}""")
      else (200, page)
    val fetch = GraphQlApi.fetchAllAreas(big, _: String,
      policy = FetchClient.RetryPolicy(backoffMs = 1))
    val fetchedMb = fetch("http://x")
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length).sum / 1e6
    assert(fetchedMb >= 0.01)
    val dir = tmpDir("graft-export-stats")
    assert(ExportMain.run(spark, fetch,
      GraftConfig(apiUrl = "http://x", outputFilename = "climbs.parquet"),
      outDir = dir) === 0)
    val stats = mapper.readTree(new java.io.File(s"$dir/export-stats.json"))
    assert(stats.get("total_rows").asLong() === 60L)
    assert(math.abs(stats.get("input_size_mb").asDouble() - fetchedMb) <= 0.005)
    assert(stats.get("compression_ratio").asDouble() > 0)
  }

  test("Parquet2JsonMain.run: extension picks JSON array vs GeoJSON") {
    val dir = tmpDir("graft-p2j")
    ExportMain.run(spark,
      GraphQlApi.fetchAllAreas(fakeTransport, _, pageSize = 2,
        FetchClient.RetryPolicy(backoffMs = 1)),
      GraftConfig(apiUrl = "http://x", outputFilename = "in.parquet"),
      outDir = dir)

    assert(Parquet2JsonMain.run(spark, s"$dir/out.json", s"$dir/in.parquet") === 0)
    val arr = mapper.readTree(new java.io.File(s"$dir/out.json"))
    assert(arr.isArray && arr.size() === 3)

    assert(Parquet2JsonMain.run(spark, s"$dir/out.geojson", s"$dir/in.parquet") === 0)
    val fc = mapper.readTree(new java.io.File(s"$dir/out.geojson"))
    assert(fc.get("type").asText() === "FeatureCollection")
    // cl-zero-lat has latitude 0.0 (not null) so it stays; 3 features
    assert(fc.get("features").size() === 3)

    // missing input → exit 1
    assert(Parquet2JsonMain.run(spark, s"$dir/x.json", s"$dir/absent.parquet") === 1)
  }

  test("extended schema over the fetch path: unfetched fields surface as defaults") {
    // the AREAS_QUERY selection set (reference parity) does not fetch the
    // extended-only fields; through the REAL fetch→enrich→transform path
    // they must come out as their COALESCE defaults, not errors
    val dir = tmpDir("graft-export-ext")
    val code = ExportMain.run(spark,
      GraphQlApi.fetchAllAreas(fakeTransport, _, pageSize = 2,
        FetchClient.RetryPolicy(backoffMs = 1)),
      GraftConfig(apiUrl = "http://x", outputFilename = "ext.parquet"),
      schemaSql = DefaultSchemas.extended, outDir = dir)
    assert(code === 0)
    val out = spark.read.parquet(s"$dir/ext.parquet")
    assert(out.columns.length === 34)
    val r = out.filter(col("climb_id") === "cl-own").head()
    assert(r.getAs[String]("grade_yds") === "5.9")   // fetched
    assert(r.getAs[String]("grade_ewbank") === "")   // unfetched → default
    assert(r.getAs[Boolean]("is_sport"))             // fetched
    assert(!r.getAs[Boolean]("is_ice"))              // unfetched → default
    assert(r.getAs[String]("protection") === "")     // unfetched → default
    assert(r.getAs[Seq[String]]("full_location_path") ===
      Seq("USA", "Utah", "IC", "Buttress"))
  }

  // -- extended schema golden (P4 whole-array passthrough) ------------------

  test("extended schema: 34 columns, 6th path level, array passthrough, extra fields") {
    val deep = """{"uuid": "deep", "name": "Deep Route", "fa": "F. A. 2001",
      "length": 30, "boltsCount": 12,
      "grades": {"yds": "5.12a", "french": "7a+", "ewbank": "25", "uiaa": "VIII",
                 "za": "24", "british": "E5 6a"},
      "type": {"sport": true, "mixed": true, "ice": true, "snow": false, "aid": true},
      "safety": "PG13", "metadata": {"lat": 40.0, "lng": -105.0},
      "content": {"description": "desc", "location": "loc", "protection": "pro"},
      "pathTokens": ["USA", "Colorado", "Boulder", "Flatirons", "First", "East Face"]}"""
    val bare = """{"uuid": "bare", "name": null, "pathTokens": null}"""
    JsonSource.registerClimbs(
      JsonSource.fromRecords(spark, Seq(deep, bare)))
    val out = SqlTransform(spark, DefaultSchemas.extended)
    assert(out.columns.length === 34)
    val rows = out.collect().map(r => r.getAs[String]("climb_id") -> r).toMap
    val d = rows("deep")
    assert(d.getAs[String]("grade_ewbank") === "25")
    assert(d.getAs[String]("grade_british") === "E5 6a")
    assert(d.getAs[Boolean]("is_mixed") && d.getAs[Boolean]("is_ice") &&
      d.getAs[Boolean]("is_aid") && !d.getAs[Boolean]("is_snow"))
    assert(d.getAs[String]("sub_area") === "East Face")
    // P4: the whole pathTokens array passes through untouched
    assert(d.getAs[Seq[String]]("full_location_path") ===
      Seq("USA", "Colorado", "Boulder", "Flatirons", "First", "East Face"))
    assert(d.getAs[String]("location_description") === "loc")
    assert(d.getAs[String]("protection") === "pro")
    // COALESCE defaults: all-null climb renders as empty strings / zeros
    val b = rows("bare")
    assert(b.getAs[String]("grade_uiaa") === "")
    assert(b.getAs[String]("sub_area") === "")
    assert(b.getAs[Seq[String]]("full_location_path") === null)
    assert(b.getAs[Double]("latitude") === 0.0)
    assert(b.getAs[Long]("length_meters") === 0L)
  }
}
