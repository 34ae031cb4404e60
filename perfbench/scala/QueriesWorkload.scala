package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.queries.Registry

/** An analyst's session: a fixed, named mix of declared queries over a
  * seeded corpus. The short class is all planning and driver floor; the
  * heavy class is executor compute and shuffle. Each round runs every
  * heavy query once, each followed by one pass over the short class; a
  * query's time covers building it and collecting its result. Transient
  * query caches are reset before every query, as Bench does. */
final class QueriesWorkload extends Workload {
  override def streaming: Boolean = true
  val Docs = 300
  val Events = 6000
  val Users = 100
  val Embeddings = 200

  val Short: Seq[String] = Seq("q20_token_stats", "q22_lang_stats",
    "q24_lang_guess", "q43_scrub_normalize", "q61_shard_assign",
    "q08_running_user_value", "q36_asof_last_signup")
  /** Text near-duplicates, vector-similarity clusters, and a micro-batch
    * stream upserted into a versioned table one commit per trigger. Each
    * costs 2-4 s on 4 cores even on this small corpus (a fixed multi-job
    * floor), so a longer class would not fit a run. */
  val Heavy: Seq[String] = Seq("q26_jaccard_near_dups", "q70_embedding_clusters",
    "q161_stream_versioned")

  private var dir: String = _
  private var checkDir: String = _
  // each query's latest result, kept for the oracle check
  private val results = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]

  private def write(spark: SparkSession, name: String, schema: StructType,
      rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    write(spark, "documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      Gen.documents(seed, Docs).map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)))
    write(spark, "events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      Gen.events(seed, Events, Users).map(e =>
        Row(e.id, Gen.timestamp(e.tsMicros), e.user, e.kind, e.value, e.props)))
    write(spark, "embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
      Gen.embeddings(seed, Embeddings).map(e =>
        Row(e.id, e.vec.toSeq, e.label)))
  }

  private def run(spark: SparkSession, name: String, cls: String,
      tr: Tracer, rec: Rec): Unit = {
    Registry.resetTransientCaches()
    rec.attempted += 1
    try {
      val q = Registry.byName(name)
      val ((schema, rows), ms) = Clock.ms(tr.op(s"query.$cls") {
        val df = tr.span(s"queries.$cls.build")(q.run(spark, dir))
        (df.schema, tr.span(s"queries.$cls.exec")(df.collect()))
      })
      results(name) = (schema, rows)
      rec.sample(s"${cls}_ms", ms)
      rec.sample(s"$cls.$name", ms)
    } catch {
      case e: Exception => rec.fail(s"$name: ${e.getMessage}")
    }
  }

  /** The short class once, so the timed samples are warm. */
  def warmup(spark: SparkSession): Unit = {
    val rec = new Rec
    Short.foreach(run(spark, _, "short", new Tracer(false), rec))
  }

  def measure(spark: SparkSession, seconds: Double, tr: Tracer, rec: Rec): Unit = {
    val t0 = System.nanoTime()
    // whole rounds, at least one: every run does the same mix of queries
    do {
      Heavy.foreach { h =>
        run(spark, h, "heavy", tr, rec)
        Short.foreach(run(spark, _, "short", tr, rec))
      }
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
  }

  def check(spark: SparkSession, rec: Rec, outDir: String): Unit = {
    checkDir = outDir
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).repartition(1)
        .write.mode("overwrite").parquet(s"$outDir/q/$name")
    }
    // static oracles, plus the data-dependent ones Verify also builds
    val mix = (Short ++ Heavy).map(Registry.byName)
    val oracles = mix.flatMap(q => q.oracle.orElse(q.oracleGen.map(_(spark, dir)))
      .map(q.name -> _))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }))
  }

  override def extra: Seq[(String, String)] = Seq(
    "corpus_dir" -> Json.str(dir), "check_dir" -> Json.str(checkDir),
    "mix" -> Json.arr((Short ++ Heavy).map(Json.str)))
}
