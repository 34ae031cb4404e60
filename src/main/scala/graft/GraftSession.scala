package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.SqlTransform
import graft.functions.GraftFunctions

/** One-stop session facade: a tuned local session factory plus the
  * registrations (tables as views, graft SQL functions, dialect shims)
  * that make the whole engine reachable from plain `spark.sql`.
  *
  * On a real cluster the builder settings change (no `master`, dynamic
  * allocation, larger shuffle partitions) but `prepare` is identical —
  * the SQL surface is deployment-agnostic.
  */
object GraftSession {

  /** Engine tuning every graft session applies (the CLI factory below and
    * the Bench/Verify harness mains, which build their own sessions):
    *
    *  - UTC + non-ANSI: DuckDB-oracle parity (out-of-range element_at /
    *    bad casts yield NULL, the reference's list_element semantics);
    *  - AQE on: runtime coalescing / skew handling;
    *  - objectHashAggregate fallback at 64k groups: the 128-group default
    *    pushes every TypedImperativeAggregate (minhash/simhash) into
    *    sort-based aggregation at any realistic per-partition doc count,
    *    while 64k groups of vote buffers is only ~25 MB — hash aggregation
    *    stays on for the working range and the fallback still guards
    *    runaway cardinality;
    *  - AQE coalesce floor at 64 KiB: the 1 MiB default collapses small
    *    CPU-BOUND stages (candidate joins over compact keys, e.g. dedup's
    *    prefix self-join: ~6 MiB of shuffle data but seconds of compute)
    *    to single-digit parallelism. The floor only matters when
    *    bytes/parallelism < 1 MiB — i.e. small stages; at cluster scale
    *    partitions dwarf both values and coalescing behaves as before;
    *  - `file:` bound to [[graft.io.GraftLocalFileSystem]] (`FileSystem`)
    *    and [[graft.io.GraftLocalFs]] (`FileContext`): without libhadoop,
    *    Hadoop's local filesystem forks `/bin/chmod` for every file it
    *    creates and every directory it makes, and `/bin/readlink` for every
    *    link-status lookup (each `FileContext.rename` of a streaming
    *    checkpoint does two): milliseconds each, ~15 per export job.
    *    The graft classes do the same through java.nio and keep the mode
    *    bits, the `.crc` checksum sidecars, and rename-fails-if-exists
    *    onto a file (the rule of Hive's `ProxyLocalFileSystem`, which wins
    *    the `FileSystem` service loader by jar order without this key).
    *    Other schemes are untouched, and with NativeIO loaded the stock
    *    code paths run.
    */
  val engineConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // partition discovery: the 32-path default launches a WHOLE Spark
    // job (one task per directory) to stat as few as 33 partition dirs
    // — a fixed ~150 ms tax on every read of a freshly-written
    // partitioned table (copy-on-write merges invalidate the status
    // cache on each commit, so the tax recurs per merge). Driver-side
    // listing of ≤1k dirs is milliseconds on any filesystem; tables
    // wide enough to genuinely need cluster-parallel listing (>1k
    // dirs) still get the job, and log-backed tables never list at all
    // (graftshim.LogFileIndex)
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
    // merge-on-read scan splice ([[graft.plans.MorScanRewrite]]): the
    // tuned sessions read DV-bound / column-mapped versioned tables
    // through the native codegen plan instead of the V1 Row fallback
    "spark.graft.mor.rewrite" -> "true",
    // full extension surface at session BUILD time — functions, the
    // optimizer rules, and the `graft.<name>` resolution rule (plain
    // spark.sql over registered/durable table names); imperative
    // installOptimizations stays for pre-built sessions, which cannot
    // take analyzer rules after the fact
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.io.GraftLocalFs].getName)

  /** `builder.config(k, v)` for every [[engineConfs]] entry. */
  def tuned(builder: SparkSession.Builder): SparkSession.Builder =
    engineConfs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }

  def create(master: String = "local[*]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val s = tuned(SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Register the synthetic-corpus tables as views plus all graft SQL
    * functions (vec_dot/vec_cosine/vec_norm, list_element) on an existing
    * session. After this, every operator is usable from spark.sql. */
  def prepare(spark: SparkSession, dataDir: String): SparkSession = {
    Tables.registerAll(spark, dataDir)
    GraftFunctions.register(spark)
    SqlTransform.registerDialect(spark)
    installOptimizations(spark)
    spark
  }

  /** Install graft's optimizer rules on an EXISTING session (the
    * imperative twin of the `graft.GraftExtensions` injection):
    * currently the lossless Levenshtein length-bound prefilter. Guarded
    * against double-install, so every entry path may call it. */
  def installOptimizations(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.LevenshteinPrefilter)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.LevenshteinPrefilter
    }
    // the merge-on-read scan splice (gated on spark.graft.mor.rewrite,
    // which the tuned sessions set — see MorScanRewrite's scaladoc)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.MorScanRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.MorScanRewrite
    }
  }

  /** Schema introspection (SURVEY.md §2.8 M1/M2): column names + types of
    * any result — the DESCRIBE surface the reference's converter uses. */
  def describe(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq

  // ---------------------------------------------------------------------
  // NAME-ADDRESSED TABLES — a name → path registry, the minimal catalog
  // seam: consumers say `graft.orders_gold` (SQL) or
  // `.option("table", "orders_gold")` (reader/writer/stream) instead
  // of restating absolute paths everywhere. Two layers:
  //   - SESSION bindings (default): keyed by the SparkSession OBJECT in
  //     a weak-keyed map, so a dead session's entries are GC-evicted
  //     and a new session can never inherit or collide with them
  //     (identity-hash keys were both recyclable and leak-prone);
  //   - DURABLE bindings (`durable = true`): written through to a
  //     warehouse-level catalog file, so `graft.orders_gold` survives
  //     the JVM — a new session with no prior registerTable call
  //     resolves it from disk. Location: `spark.graft.catalog.path`
  //     when set, else `<spark.sql.warehouse.dir>/_graft_catalog`.
  // The tables stay path-addressed underneath (the Delta-on-paths
  // convention); this only removes the path restating. Session
  // bindings shadow durable ones; durable writes are read-modify-write
  // through the warehouse filesystem with last-writer-wins semantics
  // (a name registry, not a commit log — table COMMITS have their own
  // optimistic-concurrency story in the table's log).
  // ---------------------------------------------------------------------

  private val tableRegistry = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, String]]()

  private def sessionBindings(spark: SparkSession)
      : scala.collection.concurrent.TrieMap[String, String] =
    tableRegistry.synchronized {
      var m = tableRegistry.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, String]
        tableRegistry.put(spark, m)
      }
      m
    }

  /** The durable catalog file's location for this session's warehouse. */
  def catalogPath(spark: SparkSession): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.getOption("spark.graft.catalog.path").getOrElse(
        spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
          "/_graft_catalog"))

  private def catalogFs(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The durable catalog's bindings (empty when no catalog file
    * exists) — one small metadata read, name → base path. */
  def durableTables(spark: SparkSession): Map[String, String] = {
    val p = catalogPath(spark)
    val fs = catalogFs(spark, p)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(l => l.nonEmpty && !l.startsWith("#"))
          .flatMap { l =>
            val i = l.indexOf('=')
            if (i <= 0) None else Some(l.take(i) -> l.drop(i + 1))
          }.toMap
      } finally in.close()
    }
  }

  private val catalogWriteLock = new Object

  private def writeDurable(spark: SparkSession,
      mutate: Map[String, String] => Map[String, String]): Unit =
    catalogWriteLock.synchronized {
      val p = catalogPath(spark)
      val fs = catalogFs(spark, p)
      val next = mutate(durableTables(spark))
      val tmp = new org.apache.hadoop.fs.Path(
        p.getParent, s"${p.getName}.tmp-${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try {
        val body = next.toSeq.sortBy(_._1)
          .map { case (n, pa) => s"$n=$pa" }.mkString("", "\n", "\n")
        out.write(body.getBytes("UTF-8"))
      } finally out.close()
      if (fs.exists(p)) fs.delete(p, false)
      require(fs.rename(tmp, p), s"failed to install catalog file $p")
    }

  private def requireBareName(name: String): Unit =
    require(name.nonEmpty && !name.contains('/') && !name.contains('=') &&
        !name.contains('\n'),
      s"table name must be a bare identifier, got '$name'")

  /** Bind `name` to a versioned table's base path. Session-local by
    * default (dies with the session; re-registering rebinds, like temp
    * views); `durable = true` also writes the binding through to the
    * warehouse catalog file, so the name outlives the JVM and a fresh
    * session resolves it with no registerTable call in scope. */
  def registerTable(spark: SparkSession, name: String, path: String,
      durable: Boolean = false): Unit = {
    requireBareName(name)
    sessionBindings(spark).put(name.toLowerCase, path)
    if (durable)
      writeDurable(spark, _ + (name.toLowerCase -> path))
  }

  /** Remove a binding — from this session, and with `durable = true`
    * from the warehouse catalog file too. Unknown names no-op (DROP IF
    * EXISTS shape: unbinding is idempotent housekeeping). */
  def unregisterTable(spark: SparkSession, name: String,
      durable: Boolean = false): Unit = {
    requireBareName(name)
    sessionBindings(spark).remove(name.toLowerCase)
    if (durable)
      writeDurable(spark, _ - name.toLowerCase)
  }

  /** The path `name` is bound to — this session's binding when one
    * exists, else the durable catalog's. */
  def tablePath(spark: SparkSession, name: String): Option[String] =
    sessionBindings(spark).get(name.toLowerCase)
      .orElse(durableTables(spark).get(name.toLowerCase))

  /** The warehouse location a NAME-addressed CREATE lands at
    * (`CREATE TABLE graft.sales …` with no path and no prior
    * binding): `spark.graft.warehouse.dir` when set, else
    * `<spark.sql.warehouse.dir>/graft`, plus the lowercased name —
    * the managed-table convention, next to the catalog file. */
  def tableLocation(spark: SparkSession, name: String): String = {
    requireBareName(name)
    val base = spark.conf.getOption("spark.graft.warehouse.dir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/graft")
    s"${base.stripSuffix("/")}/${name.toLowerCase}"
  }

  /** Names resolvable in this session (session ∪ durable, for error
    * listings). */
  def registeredTables(spark: SparkSession): Seq[String] =
    (sessionBindings(spark).keySet ++ durableTables(spark).keySet)
      .toSeq.sorted

  /** Resolve a `graft.<x>` operand: an absolute path passes through;
    * a bare identifier looks up the session registry, refusing loudly
    * with the registered names when unbound. */
  def resolveTable(spark: SparkSession, x: String): String =
    if (x.contains('/')) x
    else tablePath(spark, x).getOrElse(
      throw new IllegalArgumentException(
        s"no registered graft table named '$x' " +
          s"(registered: ${registeredTables(spark).mkString(", ")}) — " +
          "bind it with GraftSession.registerTable(spark, name, path) " +
          "or address the table by absolute path: graft.`/abs/path`"))
}
