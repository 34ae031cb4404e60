package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TimeTravel

/** SQL DML router ([[GraftSql]]): INSERT / INSERT OVERWRITE / DELETE /
  * UPDATE / MERGE strings, parsed by Spark's own parser, landing
  * through the [[TimeTravel]] mutation API — with `graft.`path``
  * addressing, alias handling, merge-on-read routing, and loud
  * refusals for the unsupported corners. */
class GraftSqlSpec extends SparkSpec {

  import spark.implicits._

  private def stage(): String = {
    val t = tmpDir("sqldml")
    TimeTravel.init(spark, t,
      (1 to 40).map(i => (i.toLong, s"p${i % 2}", i * 1.0))
        .toDF("k", "p", "x").repartition(1), "p")
    t
  }

  private def readTip(t: String) =
    TimeTravel.readVersion(spark, t, TimeTravel.latestVersion(spark, t))

  test("INSERT INTO appends; INSERT OVERWRITE replaces; old versions intact") {
    val t = stage()
    Seq((100L, "p0", 1.5), (101L, "p1", 2.5)).toDF("k", "p", "x")
      .createOrReplaceTempView("ins_src")
    GraftSql.exec(spark, s"INSERT INTO graft.`$t` SELECT * FROM ins_src")
    assert(readTip(t).count() === 42)
    // a column list maps query output POSITIONALLY onto the named cols
    GraftSql.exec(spark,
      s"INSERT INTO graft.`$t` (x, k, p) SELECT 9.9, 200L, 'p0'")
    assert(readTip(t).filter(col("k") === 200L).select("x")
      .as[Double].head() === 9.9)
    GraftSql.exec(spark,
      s"INSERT OVERWRITE graft.`$t` SELECT 1L AS k, 'p0' AS p, 0.5 AS x")
    assert(readTip(t).count() === 1)
    assert(TimeTravel.readVersion(spark, t, 1).count() === 40)
  }

  test("DELETE FROM with WHERE, plain and merge-on-read") {
    val t = stage()
    val files0 = TimeTravel.filesAt(spark, t, 1).toSet
    GraftSql.exec(spark, s"DELETE FROM graft.`$t` WHERE k % 10 = 0")
    assert(readTip(t).count() === 36)
    // merge-on-read: zero data files rewritten
    val pre = TimeTravel.filesAt(spark, t,
      TimeTravel.latestVersion(spark, t)).toSet
    GraftSql.exec(spark, s"DELETE FROM graft.`$t` t WHERE t.k = 7",
      mergeOnRead = true)
    assert(readTip(t).count() === 35)
    assert(TimeTravel.filesAt(spark, t,
      TimeTravel.latestVersion(spark, t)).toSet === pre)
    assert(files0.nonEmpty)
  }

  test("UPDATE SET evaluates on original values; alias strips") {
    val t = stage()
    GraftSql.exec(spark,
      s"UPDATE graft.`$t` AS g SET x = g.x + 100 WHERE g.k <= 2")
    val out = readTip(t).filter(col("k") <= 2).select("k", "x")
      .as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 101.0, 2L -> 102.0))
    // merge-on-read update: only new image files added
    val pre = TimeTravel.filesAt(spark, t,
      TimeTravel.latestVersion(spark, t)).toSet
    GraftSql.exec(spark, s"UPDATE graft.`$t` SET x = 0.0 WHERE k = 3",
      mergeOnRead = true)
    val post = TimeTravel.filesAt(spark, t,
      TimeTravel.latestVersion(spark, t)).toSet
    assert((pre -- post).isEmpty, "MOR update must rewrite no file")
    assert(readTip(t).filter(col("k") === 3).select("x")
      .as[Double].head() === 0.0)
  }

  test("MERGE INTO: ordered conditional clauses, star update, star insert") {
    val t = stage()
    Seq((1L, "p1", 1000.0, true), (2L, "p0", 2000.0, false),
      (999L, "p1", 9.0, false))
      .toDF("k", "p", "x", "del").createOrReplaceTempView("merge_src")
    val v = GraftSql.exec(spark,
      s"""MERGE INTO graft.`$t` tg USING (SELECT k, p, x FROM merge_src) s
         ON tg.k = s.k
         WHEN MATCHED AND tg.k = 1 THEN DELETE
         WHEN MATCHED THEN UPDATE SET x = s.x + 0.5
         WHEN NOT MATCHED THEN INSERT *""")
    val tip = TimeTravel.readVersion(spark, t, v)
    assert(tip.filter(col("k") === 1L).count() === 0) // first clause won
    assert(tip.filter(col("k") === 2L).select("x")
      .as[Double].head() === 2000.5)
    assert(tip.filter(col("k") === 999L).count() === 1)
    assert(tip.count() === 40) // 40 - 1 deleted + 1 inserted
  }

  test("GraftSql.sql: path-addressed SELECT with VERSION/TIMESTAMP AS OF time travel") {
    val t = stage() // v1: 40 rows
    TimeTravel.append(spark, t,
      Seq((100L, "p0", 1.0), (101L, "p1", 2.0)).toDF("k", "p", "x"), "p")
    // tip read, no view registration
    assert(GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft.`$t`").head.getLong(0) === 42)
    // VERSION AS OF reads the pre-append snapshot
    assert(GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft.`$t` VERSION AS OF 1")
      .head.getLong(0) === 40)
    // TIMESTAMP AS OF at v1's recorded wall-clock
    val ts1 = TimeTravel.history(spark, t)
      .find(_.version == 1).flatMap(_.timestampMs).get
    assert(GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft.`$t` TIMESTAMP AS OF $ts1")
      .head.getLong(0) === 40)
    // predicates, projections, and joins against ordinary views compose
    Seq((1L, "one"), (2L, "two")).toDF("k", "name")
      .createOrReplaceTempView("sql_names")
    val joined = GraftSql.sql(spark,
      s"""SELECT g.k, n.name FROM graft.`$t` g
         JOIN sql_names n ON g.k = n.k WHERE g.x < 10 ORDER BY g.k""")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(joined === Seq((1L, "one"), (2L, "two")))
    // merge-on-read versions read through the same surface
    TimeTravel.deleteWhereDv(spark, t, col("k") === 100L, "p")
    assert(GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft.`$t`").head.getLong(0) === 41)
  }

  test("INSERT INTO ... SELECT FROM graft.`b`: the cross-table SQL copy") {
    val a = stage()
    val b = tmpDir("sqldml-b")
    TimeTravel.init(spark, b,
      Seq((500L, "p0", 5.5), (501L, "p1", 6.5)).toDF("k", "p", "x"), "p")
    GraftSql.exec(spark,
      s"INSERT INTO graft.`$a` SELECT * FROM graft.`$b` WHERE k = 500")
    assert(readTip(a).filter(col("k") === 500L).count() === 1)
    assert(readTip(a).count() === 41)
  }

  test("DDL verbs: CTAS, constraints, OPTIMIZE, VACUUM, RESTORE, DESCRIBE HISTORY/DETAIL — an operator who speaks only SQL runs the whole lifecycle") {
    val t = tmpDir("sqlddl")
    (1 to 30).map(i => (i.toLong, s"p${i % 2}", i * 1.0))
      .toDF("k", "p", "x").createOrReplaceTempView("ddl_src")
    // CREATE TABLE AS SELECT → init
    GraftSql.exec(spark, s"""CREATE TABLE graft.`$t`
      USING `graft-versioned` PARTITIONED BY (p)
      AS SELECT * FROM ddl_src""")
    assert(readTip(t).count() === 30)
    assert(TimeTravel.partitionColumns(spark, t) === Seq("p"))
    // IF NOT EXISTS on an existing table: no-op; bare CREATE refuses
    GraftSql.exec(spark, s"""CREATE TABLE IF NOT EXISTS graft.`$t`
      USING `graft-versioned` AS SELECT * FROM ddl_src""")
    assert(TimeTravel.latestVersion(spark, t) === 1)
    intercept[IllegalStateException](GraftSql.exec(spark,
      s"CREATE TABLE graft.`$t` USING `graft-versioned` " +
        "AS SELECT * FROM ddl_src"))
    // ADD CONSTRAINT validates existing data, then gates inserts
    GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` ADD CONSTRAINT x_pos CHECK (x > 0)")
    assert(TimeTravel.constraintsAt(spark, t,
      TimeTravel.latestVersion(spark, t)).contains("x_pos"))
    val bad = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"INSERT INTO graft.`$t` SELECT 99L, 'p0', -5.0"))
    assert(bad.getMessage.contains("x_pos"))
    // fragment the table, OPTIMIZE folds it
    GraftSql.exec(spark, s"INSERT INTO graft.`$t` SELECT 31L, 'p0', 31.0")
    GraftSql.exec(spark, s"INSERT INTO graft.`$t` SELECT 32L, 'p1', 32.0")
    val preFiles = TimeTravel.filesAt(spark, t,
      TimeTravel.latestVersion(spark, t)).size
    val vOpt = GraftSql.exec(spark, s"OPTIMIZE graft.`$t`")
    assert(TimeTravel.filesAt(spark, t, vOpt).size < preFiles)
    // a bad delete, then RESTORE undoes it
    GraftSql.exec(spark, s"DELETE FROM graft.`$t` WHERE k <= 15")
    assert(readTip(t).count() === 17)
    GraftSql.exec(spark,
      s"RESTORE TABLE graft.`$t` TO VERSION AS OF $vOpt")
    assert(readTip(t).count() === 32)
    // DESCRIBE HISTORY shows the op trail; DETAIL the current state
    val hist = GraftSql.sql(spark, s"DESCRIBE HISTORY graft.`$t`")
      .select("version", "operation").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(hist(1) === "init" && hist(vOpt) === "compact" &&
      hist(vOpt + 1) === "delete" && hist(vOpt + 2) === "restore")
    val det = GraftSql.sql(spark, s"DESCRIBE DETAIL graft.`$t`").head
    assert(det.getAs[String]("partition_columns") === "p")
    assert(det.getAs[Int]("n_constraints") === 1)
    // DROP CONSTRAINT, then the bad insert lands
    GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` DROP CONSTRAINT x_pos")
    GraftSql.exec(spark, s"INSERT INTO graft.`$t` SELECT 99L, 'p0', -5.0")
    assert(readTip(t).count() === 33)
    // VACUUM RETAIN keeps the tail readable, drops ancient versions
    val latest = TimeTravel.latestVersion(spark, t)
    GraftSql.exec(spark, s"VACUUM graft.`$t` RETAIN 2 VERSIONS")
    assert(TimeTravel.readVersion(spark, t, latest).count() === 33)
    intercept[Exception](TimeTravel.readVersion(spark, t, 1).count())
    // time-based retention (Delta's spelling): everything committed in
    // the last hour survives a RETAIN 1 HOURS…
    GraftSql.exec(spark, s"VACUUM graft.`$t` RETAIN 1 HOURS")
    assert(TimeTravel.readVersion(spark, t, latest - 1).count() > 0)
    // …while RETAIN 0 HOURS keeps only the version current right now
    GraftSql.exec(spark, s"VACUUM graft.`$t` RETAIN 0 HOURS")
    assert(TimeTravel.readVersion(spark, t, latest).count() === 33)
    intercept[Exception](TimeTravel.readVersion(spark, t, latest - 1)
      .count())
  }

  test("bare CREATE TABLE: an EMPTY v1 carries schema + layout; reads type empty frames and the first batches fill it") {
    val t = tmpDir("sqlddl-empty")
    GraftSql.exec(spark, s"""CREATE TABLE graft.`$t`
      (k BIGINT, d DATE, r STRING, x DOUBLE)
      USING `graft-versioned` PARTITIONED BY (d, r)""")
    // empty reads: imperative, SQL, and declarative all type zero rows
    assert(TimeTravel.readVersion(spark, t, 1).count() === 0)
    assert(TimeTravel.readVersion(spark, t, 1).columns.toSeq ===
      Seq("k", "d", "r", "x"))
    assert(GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM graft.`$t`").head.getLong(0) === 0)
    assert(spark.read.format("graft-versioned").option("path", t)
      .load().count() === 0)
    // the declared layout answers before any file exists, and a
    // DISAGREEING first write refuses (the layout guard)
    assert(TimeTravel.partitionColumns(spark, t) === Seq("d", "r"))
    val rows = Seq((1L, java.sql.Date.valueOf("2024-01-01"), "eu", 1.5),
      (2L, java.sql.Date.valueOf("2024-02-01"), "us", 2.5))
      .toDF("k", "d", "r", "x")
    intercept[IllegalArgumentException](
      TimeTravel.upsert(spark, t, rows, "k", "r"))
    // SQL INSERT derives the layout from the declaration
    rows.createOrReplaceTempView("empty_fill")
    GraftSql.exec(spark, s"INSERT INTO graft.`$t` " +
      "SELECT * FROM empty_fill")
    assert(readTip(t).count() === 2)
    assert(TimeTravel.filesAt(spark, t, 2)
      .forall(_.split('/').length == 3), "declared layout established")
    // IF NOT EXISTS no-ops; plain CREATE refuses the existing table
    GraftSql.exec(spark, s"CREATE TABLE IF NOT EXISTS graft.`$t` " +
      "(k BIGINT) USING `graft-versioned`")
    intercept[IllegalStateException](GraftSql.exec(spark,
      s"CREATE TABLE graft.`$t` (k BIGINT) USING `graft-versioned`"))
    // RESTORE back to the empty v1: the tip reads empty, the layout
    // stays answerable (recovered from the in-between history), and
    // the table refills
    GraftSql.exec(spark, s"RESTORE TABLE graft.`$t` TO VERSION AS OF 1")
    assert(readTip(t).count() === 0)
    assert(TimeTravel.partitionColumns(spark, t) === Seq("d", "r"))
    GraftSql.exec(spark,
      s"INSERT INTO graft.`$t` SELECT * FROM empty_fill")
    assert(readTip(t).count() === 2)
    // constraints may land on the empty table before any data
    val t2 = tmpDir("sqlddl-empty2")
    GraftSql.exec(spark, s"CREATE TABLE graft.`$t2` " +
      "(k BIGINT, p STRING, x DOUBLE) USING `graft-versioned` " +
      "PARTITIONED BY (p)")
    GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t2` ADD CONSTRAINT xp CHECK (x > 0)")
    val e = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"INSERT INTO graft.`$t2` SELECT 1L, 'a', -1.0"))
    assert(e.getMessage.contains("xp"))
  }

  test("name-addressed tables: a registered name works across SQL, reader, writer, and stream — no path restating") {
    import graft.GraftSession
    val t = stage()
    GraftSession.registerTable(spark, "orders_gold", t)
    // SQL reads, DML and maintenance by NAME
    assert(GraftSql.sql(spark,
      "SELECT count(*) AS n FROM graft.orders_gold").head.getLong(0) === 40)
    GraftSql.exec(spark,
      "INSERT INTO graft.orders_gold SELECT 500L, 'p0', 5.5")
    assert(readTip(t).count() === 41)
    GraftSql.exec(spark, "DELETE FROM graft.orders_gold WHERE k = 500")
    GraftSql.exec(spark, "OPTIMIZE graft.orders_gold") // no-op: compact
    assert(GraftSql.sql(spark, "DESCRIBE HISTORY graft.orders_gold")
      .count() >= 3)
    // declarative reader/writer by name
    val byName = spark.read.format("graft-versioned")
      .option("table", "orders_gold").load()
    assert(byName.count() === 40)
    Seq((600L, "p1", 6.5)).toDF("k", "p", "x")
      .write.format("graft-versioned").mode("append")
      .option("table", "orders_gold").save()
    assert(readTip(t).filter(col("k") === 600L).count() === 1)
    // time travel by name; versions pre-date the name binding fine
    assert(GraftSql.sql(spark,
      "SELECT count(*) AS n FROM graft.orders_gold VERSION AS OF 1")
      .head.getLong(0) === 40)
    // unknown names refuse with the registered listing
    val e = intercept[IllegalArgumentException](GraftSql.sql(spark,
      "SELECT * FROM graft.nope"))
    assert(e.getMessage.contains("orders_gold"))
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN: metadata-only schema evolution as SQL strings") {
    val t = stage() // v1: (k, p, x), 40 rows
    // ADD COLUMNS: zero files rewrite; old rows read NULL
    GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` ADD COLUMNS (note STRING, score DOUBLE)")
    assert(readTip(t).columns.toSeq === Seq("k", "p", "x", "note", "score"))
    assert(readTip(t).filter(col("note").isNull).count() === 40)
    assert(TimeTravel.filesAt(spark, t,
      TimeTravel.latestVersion(spark, t)).toSet ===
      TimeTravel.filesAt(spark, t, 1).toSet) // metadata-only
    // new columns are writable; the pre-evolution version stays narrow
    GraftSql.exec(spark, s"INSERT INTO graft.`$t` " +
      "SELECT 900L, 'p0', 9.0, 'fresh', 0.5")
    assert(readTip(t).filter(col("note") === "fresh").count() === 1)
    assert(TimeTravel.readVersion(spark, t, 1).columns.toSeq ===
      Seq("k", "p", "x")) // schema time travel
    // RENAME COLUMN: metadata-only; version-pinned reads keep OLD names
    GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` RENAME COLUMN note TO comment")
    assert(readTip(t).columns.contains("comment"))
    assert(readTip(t).filter(col("comment") === "fresh").count() === 1)
    // DROP COLUMN: tombstoned; the pre-drop version still reads it
    val vBeforeDrop = TimeTravel.latestVersion(spark, t)
    GraftSql.exec(spark, s"ALTER TABLE graft.`$t` DROP COLUMN score")
    assert(!readTip(t).columns.contains("score"))
    assert(TimeTravel.readVersion(spark, t, vBeforeDrop)
      .columns.contains("score"))
    // IF EXISTS skips absent names; plain DROP refuses them
    GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` DROP COLUMN IF EXISTS nope")
    val eDrop = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` DROP COLUMN nope"))
    assert(eDrop.getMessage.contains("nope"))
    // refusals: partition column, existing name, NOT NULL add,
    // constraint-referenced rename
    val ePart = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` RENAME COLUMN p TO q"))
    assert(ePart.getMessage.contains("partition"))
    val eDup = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` ADD COLUMNS (x STRING)"))
    assert(eDup.getMessage.contains("already exists"))
    val eNn = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` ADD COLUMNS (nn BIGINT NOT NULL)"))
    assert(eNn.getMessage.contains("NULL"))
    GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` ADD CONSTRAINT cx CHECK (x > 0)")
    val eCons = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` RENAME COLUMN x TO y"))
    assert(eCons.getMessage.contains("cx"))
  }

  test("ALTER TABLE DROP COLUMNS (a, b) is one commit: a refused name drops none") {
    val t = stage() // v1: (k, p, x)
    GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` ADD COLUMNS (a STRING, b DOUBLE)")
    val v0 = TimeTravel.latestVersion(spark, t)
    val e = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"ALTER TABLE graft.`$t` DROP COLUMNS (a, nosuch)"))
    assert(e.getMessage.contains("nosuch"))
    assert(TimeTravel.latestVersion(spark, t) === v0)
    assert(readTip(t).columns.toSeq === Seq("k", "p", "x", "a", "b"))
    GraftSql.exec(spark, s"ALTER TABLE graft.`$t` DROP COLUMNS (a, b)")
    assert(TimeTravel.latestVersion(spark, t) === v0 + 1)
    assert(readTip(t).columns.toSeq === Seq("k", "p", "x"))
    assert(TimeTravel.readVersion(spark, t, v0).columns.toSeq ===
      Seq("k", "p", "x", "a", "b"))
  }

  test("managed names: CREATE TABLE graft.<name> auto-locates under the warehouse and registers durably; SHOW TABLES lists; DROP TABLE unbinds, files survive") {
    import graft.GraftSession
    val cat = tmpDir("sqlcat") + "/catalog"
    val wh = tmpDir("sqlcat-wh")
    spark.conf.set("spark.graft.catalog.path", cat)
    spark.conf.set("spark.graft.warehouse.dir", wh)
    try {
      GraftSql.exec(spark, "CREATE TABLE graft.managed_t " +
        "(k BIGINT, p STRING, x DOUBLE) USING `graft-versioned` " +
        "PARTITIONED BY (p)")
      val path = GraftSession.tablePath(spark, "managed_t").get
      assert(path === s"$wh/managed_t") // the managed location
      assert(GraftSession.durableTables(spark).contains("managed_t"))
      GraftSql.exec(spark, "INSERT INTO graft.managed_t SELECT 1L, 'a', 1.0")
      assert(GraftSql.sql(spark,
        "SELECT count(*) AS n FROM graft.managed_t").head.getLong(0) === 1)
      val st = GraftSql.sql(spark, "SHOW TABLES")
      assert(st.filter(col("table_name") === "managed_t" &&
        col("durable")).count() === 1)
      // DROP unbinds the name (external-table semantics): files stay,
      // path addressing still works, the name refuses
      GraftSql.exec(spark, "DROP TABLE graft.managed_t")
      assert(GraftSession.tablePath(spark, "managed_t").isEmpty)
      intercept[IllegalArgumentException](GraftSql.sql(spark,
        "SELECT * FROM graft.managed_t").collect())
      assert(TimeTravel.readVersion(spark, path,
        TimeTravel.latestVersion(spark, path)).count() === 1)
      GraftSql.exec(spark, "DROP TABLE IF EXISTS graft.managed_t") // no-op
      val e = intercept[IllegalArgumentException](GraftSql.exec(spark,
        "DROP TABLE graft.managed_t"))
      assert(e.getMessage.contains("IF EXISTS"))
      // CREATE IF NOT EXISTS over the surviving files re-binds the name
      GraftSql.exec(spark, "CREATE TABLE IF NOT EXISTS graft.managed_t " +
        "(k BIGINT, p STRING, x DOUBLE) USING `graft-versioned` " +
        "PARTITIONED BY (p)")
      assert(GraftSession.tablePath(spark, "managed_t").contains(path))
      assert(GraftSql.sql(spark,
        "SELECT count(*) AS n FROM graft.managed_t").head.getLong(0) === 1)
      // a path operand has no catalog entry to drop
      val e2 = intercept[IllegalArgumentException](GraftSql.exec(spark,
        s"DROP TABLE graft.`$path`"))
      assert(e2.getMessage.contains("path"))
    } finally {
      GraftSession.unregisterTable(spark, "managed_t")
      spark.conf.unset("spark.graft.warehouse.dir")
      spark.conf.unset("spark.graft.catalog.path")
    }
  }

  test("refusals name the unsupported piece") {
    val t = stage()
    val e1 = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"DELETE FROM sometable WHERE k = 1"))
    assert(e1.getMessage.contains("graft.`/abs/path`"))
    // a composite equality ON is SUPPORTED now (round-15 merge
    // parity); only an ON with no key-equality conjunct refuses
    val e2 = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"""MERGE INTO graft.`$t` t USING (SELECT 1L k, 'p0' p, 1.0 x) s
         ON t.x < s.x
         WHEN MATCHED THEN DELETE"""))
    assert(e2.getMessage.contains("key equality"))
    val e3 = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"SELECT * FROM graft.`$t`"))
    assert(e3.getMessage.contains("not a DML/DDL statement"))
    val e4 = intercept[IllegalArgumentException](GraftSql.exec(spark,
      s"INSERT INTO graft.`$t` PARTITION (p='p0') SELECT 1L, 1.0"))
    assert(e4.getMessage.contains("static-partition"))
  }
}
