package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * seed and size: the same arguments give byte-identical inputs, so a run
  * is reproducible from `--seed` alone. The program under test only ever
  * sees the generated rows; the expected results the checks use are
  * derived here, from the generator's own model of the data. */
object Gen {

  /** Order-sensitive 64-bit digest of a sequence of strings (FNV-1a);
    * used by the self-test to compare generator outputs. */
  def digest(parts: Iterator[String]): Long = {
    var h = 0xcbf29ce484222325L
    parts.foreach { s =>
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
      h = (h ^ '\n') * 0x100000001b3L
    }
    h
  }

  // ---------------------------------------------------------------- export

  val Schemas: Seq[(String, String)] = Seq(
    "canonical" -> graft.etl.DefaultSchemas.canonical,
    "minimal" -> graft.etl.DefaultSchemas.minimal,
    "extended" -> graft.etl.DefaultSchemas.extended,
    "usa_sport" -> graft.etl.DefaultSchemas.usaSportOnly)
  val Codecs: Seq[String] = Seq("snappy", "zstd", "gzip")
  /** Region filter of the jobs that take one (the minimal and extended
    * schemas); the others export every country. */
  val Regions: Seq[String] = Seq("USA", "Canada", "France")
  def regionsFor(schema: String): Seq[String] =
    if (schema == "minimal" || schema == "extended") Regions else Nil

  private val Countries = Seq("USA", "Canada", "Mexico", "France", "Spain",
    "Italy", "Germany", "Greece", "Switzerland", "Austria", "Norway",
    "United Kingdom", "South Africa", "Australia", "New Zealand", "Japan",
    "China", "Thailand", "Brazil", "Argentina")

  /** The enriched climb the export sees, as the generator's model of it. */
  final case class ClimbModel(country: Option[String], sport: Boolean,
      hasCoords: Boolean)

  /** An export input: the country list, every country's area JSON
    * objects, the pages whose first request answers 503, and the
    * post-enrichment model of every climb. */
  final case class ExportData(countries: Seq[String],
      areas: Map[String, IndexedSeq[String]], failOnce: Set[(String, Int)],
      climbs: IndexedSeq[ClimbModel]) {
    def nClimbs: Int = climbs.size
    /** Rows `schema` must write under its region filter. */
    def expectedRows(schema: String): Long = {
      val rs = regionsFor(schema)
      climbs.count { c =>
        (rs.isEmpty || c.country.exists(rs.contains)) && (schema match {
          case "minimal" => c.hasCoords
          case "usa_sport" => c.country.contains("USA") && c.sport && c.hasCoords
          case _ => true
        })
      }.toLong
    }
    def digest: Long = Gen.digest(countries.iterator ++
      countries.iterator.flatMap(areas(_)) ++
      failOnce.toSeq.sorted.iterator.map(_.toString))
  }

  private def q(s: String) = "\"" + s + "\""
  private def num(d: Double) = f"$d%.5f"

  /** About `nClimbs` climbs nested in areas across 20 countries (USA
    * about 40%). Covers the climb-record fixture cases: fully populated
    * sport routes with 5 path tokens, sparse boulders (null yds, 2 path
    * tokens, no coordinates), climbs lacking pathTokens/coordinates that
    * inherit their area's, non-USA routes, and null-coordinate routes
    * under areas with no coordinates. `failShare` of the page requests
    * answer 503 once. */
  def export(seed: Long, nClimbs: Int, pageSize: Int,
      failShare: Double = 0.1): ExportData = {
    val rnd = new Random(seed)
    val byCountry = Countries.map(_ -> ArrayBuffer.empty[String]).toMap
    val model = ArrayBuffer.empty[ClimbModel]
    var n = 0
    var areaNo = 0
    while (n < nClimbs) {
      val country =
        if (rnd.nextDouble() < 0.4) "USA"
        else Countries(1 + rnd.nextInt(Countries.size - 1))
      val depth = 3 + rnd.nextInt(4)
      val areaPath = (country +: (1 until depth).map(d => s"L$d-${rnd.nextInt(40)}"))
      val areaCoords = rnd.nextDouble() >= 0.15
      val (alat, alng) = (rnd.nextDouble() * 140 - 70, rnd.nextDouble() * 340 - 170)
      val nc = math.min(nClimbs - n, 1 + rnd.nextInt(40))
      val climbs = (0 until nc).map { _ =>
        val kind = rnd.nextInt(10)
        val uuid = new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString
        val name = s"Route ${rnd.nextInt(100000)}"
        // fixture cases: 0-4 full sport route; 5-6 sparse boulder;
        // 7-8 inherits path + coordinates; 9 explicit zero coordinates
        val boulder = kind == 5 || kind == 6
        val sport = !boulder && rnd.nextBoolean()
        val path: Option[Seq[String]] = kind match {
          case k if k <= 4 => Some(areaPath.take(5))
          case 5 | 6 => Some(areaPath.take(2))
          case 7 => None
          case _ => Some(Nil)
        }
        val coords: Option[(Double, Double)] = kind match {
          case k if k <= 4 => Some((rnd.nextDouble() * 140 - 70,
            rnd.nextDouble() * 340 - 170))
          case 9 => Some((0.0, 0.0))
          case _ => None
        }
        val grades =
          if (boulder) s"""{"yds":null,"vscale":"V${rnd.nextInt(12)}","french":null}"""
          else s"""{"yds":"5.${6 + rnd.nextInt(9)}","vscale":null,"french":"${5 + rnd.nextInt(4)}a"}"""
        val tpe = s"""{"sport":$sport,"trad":${!sport && !boulder},"bouldering":$boulder,"alpine":false,"tr":${rnd.nextBoolean()}}"""
        val meta = coords match {
          case Some((la, lo)) => s"""{"lat":${num(la)},"lng":${num(lo)}}"""
          case None => if (kind == 8) """{"lat":null,"lng":null}""" else "null"
        }
        val desc = "Climb " + ("xyz" * (1 + rnd.nextInt(20)))
        val pathJson = path.fold("null")(_.map(q).mkString("[", ",", "]"))
        val json = s"""{"uuid":${q(uuid)},"name":${q(name)},"fa":"FA ${1950 + rnd.nextInt(70)}","length":${5 + rnd.nextInt(60)},"boltsCount":${rnd.nextInt(15)},"grades":$grades,"type":$tpe,"safety":"${if (rnd.nextInt(4) == 0) "R" else "UNSPECIFIED"}","metadata":$meta,"content":{"description":${q(desc)}},"pathTokens":$pathJson}"""
        // the enrichment rules (Enrich.flattenAreas): an empty or missing
        // path inherits the area's; a falsy (missing/0) latitude inherits
        // the area's coordinates when the area has truthy ones
        val effPath = path.filter(_.nonEmpty).getOrElse(areaPath)
        val latFalsy = coords.forall(_._1 == 0.0)
        val effCoords = if (latFalsy && areaCoords) true else coords.isDefined
        model += ClimbModel(effPath.headOption, sport, effCoords)
        json
      }
      val areaMeta = if (areaCoords) s"""{"lat":${num(alat)},"lng":${num(alng)}}""" else "null"
      val area = s"""{"uuid":"area-$seed-$areaNo","pathTokens":${areaPath.map(q).mkString("[", ",", "]")},"metadata":$areaMeta,"climbs":${climbs.mkString("[", ",", "]")}}"""
      byCountry(country) += area
      areaNo += 1
      n += nc
    }
    val areas = byCountry.map { case (c, a) => c -> a.toIndexedSeq }
    val failOnce = (for {
      c <- Countries
      off <- 0 to areas(c).size by pageSize
      if rnd.nextDouble() < failShare
    } yield (c, off)).toSet
    ExportData(Countries, areas, failOnce, model.toIndexedSeq)
  }

  // --------------------------------------------------------------- corpus

  private val Vocab = Array("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "join", "customer", "the")
  private val Langs = Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "zh" -> 0.15)
  private val Markers = Map("de" -> "der", "fr" -> "le", "es" -> "el")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Documents over a 30-word vocabulary in five languages and 20
    * sources. About 8% are near-duplicates of a recent document (one or
    * two tokens replaced, or a chain of such edits), so the near-dup,
    * cluster and triangle queries all find pairs; non-English documents
    * carry their language's marker word. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new Random(seed ^ 0x5eed0001L)
    val toks = ArrayBuffer.empty[Array[String]]
    val langs = ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val (t, lang) =
        if (i > 0 && rnd.nextDouble() < 0.08) {
          val j = math.max(0, i - 1 - rnd.nextInt(math.min(i, 200)))
          val t = toks(j).clone()
          (0 until 1 + rnd.nextInt(2)).foreach { _ =>
            t(rnd.nextInt(t.length)) = Vocab(rnd.nextInt(Vocab.length))
          }
          (t, langs(j))
        } else {
          var r = rnd.nextDouble()
          val lang = Langs.find { case (_, w) => r -= w; r < 0 }
            .map(_._1).getOrElse("en")
          val len = 12 + rnd.nextInt(80)
          val t = Array.fill(len) {
            if (Markers.contains(lang) && rnd.nextDouble() < 0.06) Markers(lang)
            else Vocab(rnd.nextInt(Vocab.length))
          }
          (t, lang)
        }
      toks += t
      langs += lang
      Doc(i.toLong, t.mkString(" "), lang, s"src${i % 20}")
    }
  }

  final case class Emb(id: Long, vec: Array[Float], label: Int)

  /** 64-dimensional embeddings around 10 seeded cluster centres. */
  def embeddings(seed: Long, n: Int): IndexedSeq[Emb] = {
    val rnd = new Random(seed ^ 0x5eed0002L)
    val centres = Array.fill(10, 64)(rnd.nextGaussian())
    (0 until n).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(64)(d =>
        (centres(label)(d) * 0.12 + rnd.nextGaussian() * 0.2).toFloat)
      Emb(i.toLong, v, label)
    }
  }

  final case class Event(id: Long, tsMicros: Long, user: Long, kind: String,
      value: Double, props: String)
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  /** 2024-01-01T00:00:00Z in microseconds. */
  val EpochMicros: Long = 1704067200L * 1000000L

  def timestamp(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }

  /** Events over 30 days, ids in time order, `users` distinct users. */
  def events(seed: Long, n: Int, users: Int): IndexedSeq[Event] = {
    val rnd = new Random(seed ^ 0x5eed0003L)
    val span = 30L * 24 * 3600 * 1000000L
    val ts = Array.fill(n)((rnd.nextDouble() * span).toLong).sorted
    (0 until n).map { i =>
      Event(i.toLong, EpochMicros + ts(i), rnd.nextInt(users).toLong,
        EventTypes(rnd.nextInt(EventTypes.length)),
        rnd.nextInt(56022) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }
}
