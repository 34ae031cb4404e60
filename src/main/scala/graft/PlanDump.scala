package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: write `.explain("formatted")` for named queries to
  * `<outDir>/<query><suffix>.txt` — the before/after plan evidence an
  * optimization round commits (plans/rNN/). Session shape mirrors
  * [[PlanAudit]]: Bench's tuned session, then AQE off (after `tuned`,
  * which turns it on) so the static plan shows codegen spans and the
  * worst-case exchange count.
  *
  * Args: sfDir outDir suffix query [query...]. Extra confs can be set
  * via SPARK_GRAFT_PLANDUMP_CONFS="k=v;k=v" — how the "before" shape of
  * a conf-gated path (spark.graft.clusters.localEdgeLimit=0) is dumped
  * from one build. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names @ _*) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    GraftSession.installOptimizations(spark)
    sys.env.get("SPARK_GRAFT_PLANDUMP_CONFS").foreach(_.split(';')
      .filter(_.contains('=')).foreach { kv =>
        val i = kv.indexOf('=')
        spark.conf.set(kv.take(i), kv.drop(i + 1))
      })
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      val q = queries.Registry.byName(n)
      graft.queries.Registry.resetTransientCaches()
      val df = q.run(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$n$suffix.txt"), txt)
      println(s"[plan-dump] $outDir/$n$suffix.txt")
    }
    spark.stop()
  }
}
