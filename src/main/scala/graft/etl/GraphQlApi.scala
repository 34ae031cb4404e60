package graft.etl

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode

import scala.jdk.CollectionConverters._

/** The GraphQL query layer (SURVEY.md §2.1 S1/S2 core, §2.10 C4): query
  * bodies, request construction, envelope unpacking, and the fetch
  * orchestration with the reference's exact failure semantics
  * (export.py:18-68, 84-192).
  *
  * Failure contract (mirrors export.py):
  *  - countries fetch: non-200 or an `errors` key is a HARD failure — the
  *    export cannot proceed without the country list (export.py:170-175).
  *  - per-country areas fetch: non-200 after retries, exhausted timeouts,
  *    or an `errors` key is a SOFT failure — the country contributes the
  *    pages fetched so far and the export continues (export.py:113-128).
  *
  * Pages return the areas as raw JSON object strings: parsing into the
  * pinned [[ClimbSchema.area]] shape happens distributed on executors via
  * [[JsonSource.fromRecords]], and climb flattening + parent-field
  * inheritance runs as the Spark-native [[Enrich.flattenAreas]] (the
  * reference does both driver-side in Python, export.py:133-146 — same
  * observable rows, verified by EtlSpec).
  */
object GraphQlApi {

  /** Countries query body text (reference export.py:18-24). */
  val CountriesQuery: String = """
query GetCountries {
  countries {
    areaName
  }
}
"""

  /** Areas-with-climbs query: leaf areas under a country's path token,
    * offset-paginated (reference export.py:28-68 — the selection set is the
    * API contract, reproduced as-is).
    *
    * Deliberately reference-parity: like export.py, the selection fetches
    * only grades{yds vscale french}, the five core type flags, and
    * content{description}. The extended-schema fields beyond that
    * (ewbank/uiaa/za/british grades, mixed/ice/snow/aid flags,
    * content.location/protection) parse as NULL and surface through their
    * COALESCE defaults — exactly what the reference produces when its
    * schema-extended.sql runs over its own fetch. Widening the selection
    * set is a one-string change here if the upstream API offers them. */
  val AreasQuery: String = """
query GetAreas($tokens: [String!]!, $limit: Int!, $offset: Int!) {
  areas(filter: {leaf_status: {isLeaf: true}, path_tokens: {tokens: $tokens}}, limit: $limit, offset: $offset) {
    uuid
    area_name
    pathTokens
    metadata {
      lat
      lng
    }
    climbs {
      uuid
      name
      fa
      length
      boltsCount
      grades {
        yds
        vscale
        french
      }
      type {
        sport
        trad
        bouldering
        alpine
        tr
      }
      safety
      metadata {
        lat
        lng
      }
      content {
        description
      }
      pathTokens
    }
  }
}
"""

  /** Max page size the API allows (export.py:71). */
  val AreasPageSize: Int = 500

  /** Single-area-by-uuid query (the reference's smoke-test fetch,
    * test-export.py:11-33) — same climb selection set as [[AreasQuery]].
    * The uuid travels in the `variables` object like [[AreasQuery]]'s
    * arguments, never string-interpolated into the document: an
    * interpolated quote or backslash would malform the query or inject
    * arbitrary GraphQL. */
  val AreaQuery: String = """
query($uuid: ID!) {
  area(uuid: $uuid) {
    uuid
    area_name
    pathTokens
    metadata { lat lng }
    climbs {
      uuid
      name
      fa
      length
      boltsCount
      grades { yds vscale french }
      type { sport trad bouldering alpine tr }
      safety
      metadata { lat lng }
      content { description }
      pathTokens
    }
  }
}
"""

  /** A response carrying a GraphQL `errors` key (C4). */
  final case class GraphQlErrors(detail: String)
    extends Exception(s"GraphQL errors: $detail")

  private val mapper = new ObjectMapper()

  /** POST body for the countries query. */
  def countriesBody: String = {
    val root = mapper.createObjectNode()
    root.put("query", CountriesQuery)
    mapper.writeValueAsString(root)
  }

  /** POST body for one areas page (variables: tokens/limit/offset). */
  def areasBody(tokens: Seq[String], limit: Int, offset: Int): String = {
    val root = mapper.createObjectNode()
    root.put("query", AreasQuery)
    val vars = root.putObject("variables")
    val toks = vars.putArray("tokens")
    tokens.foreach(toks.add)
    vars.put("limit", limit)
    vars.put("offset", offset)
    mapper.writeValueAsString(root)
  }

  /** Unpack the countries envelope → country names
    * (`data.countries[].areaName`). Throws [[GraphQlErrors]] on an
    * `errors` key (export.py:174-175 raises). */
  def parseCountries(body: String): Seq[String] = {
    val root = mapper.readTree(body)
    if (root.has("errors")) throw GraphQlErrors(root.get("errors").toString)
    val countries = root.path("data").path("countries")
    countries match {
      case a: ArrayNode =>
        a.elements().asScala.map(_.path("areaName").asText()).toSeq
      case _ => Seq.empty
    }
  }

  /** POST body for a single-area fetch; the uuid rides in `variables`
    * (JSON-escaped by the serializer), see [[AreaQuery]]. */
  def areaBody(uuid: String): String = {
    val root = mapper.createObjectNode()
    root.put("query", AreaQuery)
    root.putObject("variables").put("uuid", uuid)
    mapper.writeValueAsString(root)
  }

  /** Unpack a single-area envelope (`data.area`) → the area's raw JSON,
    * or None when absent. Throws [[GraphQlErrors]] on an `errors` key
    * (test-export.py:46-48 exits on it). */
  def parseArea(body: String): Option[String] = {
    val root = mapper.readTree(body)
    if (root.has("errors")) throw GraphQlErrors(root.get("errors").toString)
    val area = root.path("data").path("area")
    if (area.isMissingNode || area.isNull) None else Some(area.toString)
  }

  /** Fetch one area by uuid (the reference's smoke-test path). */
  def fetchArea(transport: FetchClient.Transport, apiUrl: String,
      uuid: String,
      policy: FetchClient.RetryPolicy = FetchClient.RetryPolicy()): Option[String] = {
    val (status, body) =
      FetchClient.postWithRetry(transport, apiUrl, areaBody(uuid), policy)
    if (status != 200)
      throw new RuntimeException(s"Area query failed: $status ${body.take(500)}")
    parseArea(body)
  }

  /** Unpack one areas-page envelope → raw JSON strings, one per area
    * object (`data.areas[]`). Throws [[GraphQlErrors]] on an `errors` key
    * at the top level, before or after `data` (the per-country caller
    * treats it as a soft abort, export.py:126-128).
    *
    * One streaming pass: each area is its text sliced out of the page,
    * not a tree re-serialized, so the page is tokenized once and no
    * per-area tree is built. */
  def parseAreasPage(body: String): Seq[String] = {
    val p = mapper.getFactory.createParser(body)
    try {
      var areas = Seq.empty[String]
      var errors: Option[String] = None
      // fields of the object at the parser's current START_OBJECT; the
      // visitor leaves each value's last token current
      def fields(visit: String => Unit): Unit =
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName
          p.nextToken()
          visit(name)
        }
      if (p.nextToken() == JsonToken.START_OBJECT) fields {
        case "errors" => errors = Some(mapper.readTree[JsonNode](p).toString)
        case "data" if p.currentToken == JsonToken.START_OBJECT => fields {
          case "areas" if p.currentToken == JsonToken.START_ARRAY =>
            val out = Seq.newBuilder[String]
            while (p.nextToken() != JsonToken.END_ARRAY) {
              val start = p.currentTokenLocation.getCharOffset.toInt
              p.skipChildren()
              p.finishToken() // a scalar string is read lazily
              out += body.substring(start, p.currentLocation.getCharOffset.toInt)
            }
            areas = out.result()
          case _ => p.skipChildren()
        }
        case _ => p.skipChildren()
      }
      errors.foreach(e => throw GraphQlErrors(e))
      areas
    } finally p.close()
  }

  /** Fetch every areas page for one country, soft-failing to partial
    * results (export.py:84-158 semantics: retry ladder per page via
    * [[FetchClient.postWithRetry]], then non-200 / errors / exhausted
    * timeout returns what was fetched so far). */
  def fetchCountryAreas(transport: FetchClient.Transport, apiUrl: String,
      country: String, pageSize: Int = AreasPageSize,
      policy: FetchClient.RetryPolicy = FetchClient.RetryPolicy()): Seq[String] = {
    val out = Seq.newBuilder[String]
    var offset = 0
    var done = false
    while (!done) {
      val resp =
        try Some(FetchClient.postWithRetry(transport, apiUrl,
          areasBody(Seq(country), pageSize, offset), policy))
        catch {
          case e: Exception => // exhausted retries (timeout/IO): partial
            System.err.println(s"  $country: ${e.getMessage} at offset $offset")
            None
        }
      resp match {
        case Some((200, body)) =>
          val areas =
            try parseAreasPage(body)
            catch {
              case e: GraphQlErrors =>
                System.err.println(s"  $country: ${e.getMessage}")
                return out.result()
            }
          out ++= areas
          if (areas.size < pageSize) done = true else offset += pageSize
        case Some((status, _)) =>
          System.err.println(s"  $country: failed ($status) at offset $offset")
          done = true
        case None => done = true
      }
    }
    out.result()
  }

  /** Fetch the country list (hard-fail), then every country's areas
    * (soft-fail per unit) — export.py:160-192. Returns raw area JSON
    * strings ready for [[JsonSource.fromRecords]]. */
  /** The countries request with the same retry ladder as page fetches
    * (an improvement over export.py:164-168's bare POST: transient
    * 502/timeouts retry instead of hard-failing the whole export; a
    * still-failing request then hard-fails as before). */
  private def fetchCountries(transport: FetchClient.Transport, apiUrl: String,
      policy: FetchClient.RetryPolicy): Seq[String] = {
    val (status, body) =
      FetchClient.postWithRetry(transport, apiUrl, countriesBody, policy)
    if (status != 200)
      throw new RuntimeException(
        s"Countries query failed: $status ${body.take(500)}")
    parseCountries(body) // GraphQlErrors propagates: hard
  }

  def fetchAllAreas(transport: FetchClient.Transport, apiUrl: String,
      pageSize: Int = AreasPageSize,
      policy: FetchClient.RetryPolicy = FetchClient.RetryPolicy()): Seq[String] = {
    val countries = fetchCountries(transport, apiUrl, policy)
    System.err.println(s"[fetch] ${countries.size} countries")
    FetchClient.fetchUnits(countries)(
      fetchCountryAreas(transport, apiUrl, _, pageSize, policy))
  }

  /** Distributed ingest variant (SURVEY §7): the country list fans out
    * over executors and each partition paginates its countries in
    * parallel — the shape for a backend that tolerates cluster-wide
    * concurrent readers. `mkTransport` is a serializable FACTORY (e.g.
    * `() => FetchClient.httpTransport(120000)`): the HTTP client itself is
    * built once per partition on the executor, never shipped. Per-country
    * soft-failure semantics are identical to the driver-side path. */
  def fetchAllAreasDistributed(spark: org.apache.spark.sql.SparkSession,
      mkTransport: () => FetchClient.Transport, apiUrl: String,
      pageSize: Int = AreasPageSize,
      policy: FetchClient.RetryPolicy = FetchClient.RetryPolicy(),
      parallelism: Int = 8): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val countries = fetchCountries(mkTransport(), apiUrl, policy)
    spark.createDataset(countries)
      .repartition(math.min(parallelism, math.max(1, countries.size)))
      .mapPartitions { cs =>
        val transport = mkTransport()
        cs.flatMap { c =>
          try fetchCountryAreas(transport, apiUrl, c, pageSize, policy)
          catch {
            case e: Exception =>
              System.err.println(s"[fetch] unit $c failed, continuing: ${e.getMessage}")
              Iterator.empty
          }
        }
      }
  }
}
