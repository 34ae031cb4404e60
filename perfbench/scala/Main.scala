package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `generate` makes the seeded inputs
  * under `dir` and `warmup` lets lazy set-up finish; both count toward
  * set-up time. `measure` runs the closed loop (one client: the next
  * operation starts when the previous one returns) in whole cycles of
  * the workload's operations until `seconds` have passed, and records
  * into `rec`; `check` verifies outputs outside the timed region. */
trait Workload {
  def streaming: Boolean = false
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double, tr: Tracer, rec: Rec): Unit
  def check(spark: SparkSession, rec: Rec, outDir: String): Unit
  /** Extra fields for the result file (e.g. where check artifacts are). */
  def extra: Seq[(String, String)] = Nil
}

/** Runs one workload in this JVM and writes the raw result file.
  *
  * Arguments: `<workload> <seed> <seconds> <trace 0|1> <cpus> <root>
  * <result.json>`. Every file the run writes lives under `root`. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def session(cpus: Int, root: String): SparkSession = {
    // Bench's session (GraftSession.tuned + installOptimizations) with
    // local[nproc] and nproc shuffle partitions; the two path confs only
    // keep the run's files under its own root
    val spark = graft.GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse"))
      .getOrCreate()
    graft.GraftSession.installOptimizations(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(name: String): Workload = name match {
    case "export" => new ExportWorkload
    case "queries" => new QueriesWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def recJson(r: Rec): String = Json.obj(Seq(
    "samples" -> Json.obj(r.samples.map { case (k, v) => k -> Json.nums(v) }),
    "counters" -> Json.obj(r.counters.map { case (k, v) => k -> Json.num(v) }),
    "attempted" -> r.attempted.toString,
    "failures" -> Json.arr(r.failures.map(Json.str))))

  private def listenerJson(l: Listeners, prefix: String): Seq[(String, String)] = Seq(
    s"${prefix}jobs" -> Json.arr(l.jobs.map(Json.nums(_))),
    s"${prefix}tasks" -> Json.arr(l.tasks.map(Json.nums(_))),
    s"${prefix}plans" -> Json.arr(l.plans.map(Json.nums(_))),
    s"${prefix}progress" -> Json.arr(l.progress.map(m =>
      Json.obj(m.map { case (k, v) => k -> Json.num(v) }))))

  /** This process's resident-set high-water mark (VmHWM), in KiB. */
  def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, cpusS, root, resultPath) = args
    val (seed, seconds, trace, cpus) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", cpusS.toInt)
    val wl = workload(name)
    val setups = ArrayBuffer.empty[Seq[Double]]
    var spark: SparkSession = null
    var prevDir: Option[File] = None
    for (rep <- 1 to SetupReps) {
      if (spark != null) spark.stop()
      prevDir.foreach(Clock.delete)
      val dir = s"$root/in$rep"
      val (s, sessionMs) = Clock.ms(session(cpus, root))
      spark = s
      val (_, genMs) = Clock.ms(wl.generate(spark, dir, seed))
      val (_, warmMs) = Clock.ms(wl.warmup(spark))
      setups += Seq(sessionMs, genMs, warmMs)
      prevDir = Some(new File(dir))
      System.err.println(f"[perfbench] setup $rep: session $sessionMs%.0f ms, " +
        f"generate $genMs%.0f ms, warm-up $warmMs%.0f ms")
    }

    val rec = new Rec
    val fields = ArrayBuffer.empty[(String, String)]
    val lite = new Listeners(full = false)
    if (trace) {
      // first half traced, second half untraced: the difference is the
      // tracing overhead (warm-up left over counts against tracing)
      val full = new Listeners(full = true)
      val tr = new Tracer(true)
      full.register(spark, wl.streaming)
      tr.span("run")(wl.measure(spark, seconds / 2, tr, rec))
      full.drain()
      val recPlain = new Rec
      lite.register(spark, wl.streaming)
      wl.measure(spark, seconds / 2, new Tracer(false), recPlain)
      lite.drain()
      rec.failures ++= recPlain.failures
      fields += "untraced" -> recJson(recPlain)
      fields ++= listenerJson(lite, "untraced_")
      fields ++= listenerJson(full, "")
      fields += "spans" -> Json.arr(tr.spans.map(s => Json.arr(Seq(
        s.id.toString, s.parent.toString, s.op.toString, Json.str(s.name),
        Json.num(s.start), Json.num(s.end)))))
    } else {
      lite.register(spark, wl.streaming)
      wl.measure(spark, seconds, new Tracer(false), rec)
      lite.drain()
      fields ++= listenerJson(lite, "")
    }
    val outDir = s"$root/out"
    new File(outDir).mkdirs()
    wl.check(spark, rec, outDir)

    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") ||
        k.startsWith("spark.graft.") || k == "spark.master" ||
        k.startsWith("spark.ui.") }
    val json = Json.obj(Seq(
      "workload" -> Json.str(name),
      "seed" -> seed.toString,
      "cpus" -> cpus.toString,
      "trace" -> trace.toString,
      "confs" -> Json.obj(confs.map { case (k, v) => k -> Json.str(v) }),
      "setup" -> Json.arr(setups.map(Json.nums(_))),
      "peak_rss_kb" -> peakRssKb.toString,
      "rec" -> recJson(rec)) ++ fields ++ wl.extra)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultPath), json)
    spark.stop()
  }
}
