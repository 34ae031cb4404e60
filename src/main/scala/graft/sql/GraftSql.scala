package graft.sql

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.graftshim.DmlBridge

import graft.operators.TimeTravel

/** SQL DML over the versioned table — the string surface a consumer
  * who "speaks SQL, not engine APIs" needs for WRITES, completing what
  * q186's read-only view started (reference analogue: the README's
  * consumer examples are SQL; a user migrating them expects INSERT /
  * UPDATE / DELETE / MERGE to be SQL too). The design is deliberately
  * Spark-first: statements parse through SPARK'S OWN SQL parser (full
  * grammar, comments, quoting — nothing hand-rolled), and the parsed
  * Catalyst plans route to the [[TimeTravel]] mutation API, which is
  * where constraints, conflict detection, CDC capture, protocol gates
  * and merge-on-read all already live. Delta takes the same route: its
  * SQL DML resolves to the same commands its Scala API calls.
  *
  * Tables are addressed path-first, Delta's convention for
  * catalog-less tables — `` graft.`/abs/path` `` (backticks around the
  * path) — or by a session-registered NAME
  * ([[graft.GraftSession.registerTable]]): `graft.orders_gold`.
  * Example surface:
  * {{{
  *   GraftSql.exec(spark, "INSERT INTO graft.`/t` SELECT * FROM src")
  *   GraftSql.exec(spark, "DELETE FROM graft.`/t` WHERE k % 10 = 0")
  *   GraftSql.exec(spark, "UPDATE graft.`/t` SET x = x + 1 WHERE k = 3")
  *   GraftSql.exec(spark, """MERGE INTO graft.`/t` t USING updates s
  *     ON t.k1 = s.k1 AND t.k2 = s.k2 AND t.ts < s.ts
  *     WHEN MATCHED AND s.del THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT (k1, k2, p, x)
  *       VALUES (s.k1, s.k2, s.p, s.x + 1)
  *     WHEN NOT MATCHED BY SOURCE AND t.stale THEN DELETE
  *     WHEN NOT MATCHED BY SOURCE THEN UPDATE SET flag = 'stale'""")
  * }}}
  * MERGE covers the full clause surface: composite and GENERAL ON
  * conditions (equality conjuncts drive pruned discovery; everything
  * else narrows the match), explicit INSERT column lists (unlisted
  * columns NULL), and both NOT MATCHED BY SOURCE forms.
  *
  * `mergeOnRead = true` routes DELETE/UPDATE through the
  * deletion-vector paths ([[TimeTravel.deleteWhereDv]] /
  * [[TimeTravel.updateWhereDv]]) — same SQL, O(matching rows) commit.
  * Refused loudly (never silently narrowed): static-partition INSERT
  * clauses, CREATE TABLE without AS SELECT (empty tables are
  * unrepresentable), MERGE WITH SCHEMA EVOLUTION, and an ON condition
  * with no key-equality conjunct — each names the unsupported piece. */
object GraftSql {

  /** Execute one DML or DDL/maintenance statement against a versioned
    * table; returns the committed version (the unchanged current
    * version when the statement matched or reclaimed nothing). DML
    * parses through Spark's parser and routes to [[TimeTravel]]'s
    * mutation API; DDL adds the verbs a "speaks SQL" operator needs:
    * {{{
    *   CREATE TABLE graft.`/t` USING `graft-versioned`
    *     PARTITIONED BY (m, r) AS SELECT ...          -- TimeTravel.init
    *   ALTER TABLE graft.`/t` ADD CONSTRAINT p CHECK (x > 0)
    *   ALTER TABLE graft.`/t` DROP CONSTRAINT p
    *   OPTIMIZE graft.`/t` [ZORDER BY (a[, b, …])]   -- compact
    *   REPARTITION TABLE graft.`/t` BY (c[, …])       -- layout evolution
    *   VACUUM graft.`/t` RETAIN 3 VERSIONS [DRY RUN]  -- vacuum
    *   RESTORE TABLE graft.`/t` TO VERSION AS OF 2    -- restore
    * }}}
    * OPTIMIZE / VACUUM / RESTORE are not in Spark's grammar (they are
    * Delta-style extensions) and hand-route; everything else is
    * Spark-parsed. DESCRIBE HISTORY/DETAIL return result SETS, so they
    * live on the DataFrame surface: [[sql]]. */
  def exec(spark: SparkSession, sql: String,
      mergeOnRead: Boolean = false,
      changeFeed: Boolean = false): Int =
    maintenanceRoute(spark, sql).getOrElse(
      spark.sessionState.sqlParser.parsePlan(sql) match {
        case i: InsertIntoStatement => insert(spark, i)
        case d: DeleteFromTable => delete(spark, d, mergeOnRead, changeFeed)
        case u: UpdateTable => update(spark, u, mergeOnRead, changeFeed)
        case m: MergeIntoTable => merge(spark, m, changeFeed)
        case c: CreateTableAsSelect => createAsSelect(spark, c)
        case c: CreateTable => createEmpty(spark, c)
        case a: AddCheckConstraint => addConstraint(spark, a)
        case d: DropConstraint => dropConstraintCmd(spark, d)
        case a: AddColumns => addColumnsCmd(spark, a)
        case r: RenameColumn => renameColumnCmd(spark, r)
        case d: DropColumns => dropColumnsCmd(spark, d)
        case d: DropTable => dropTableCmd(spark, d)
        case other => throw new IllegalArgumentException(
          s"not a DML/DDL statement (${other.nodeName}): GraftSql " +
            "executes INSERT / DELETE / UPDATE / MERGE / CREATE TABLE " +
            "AS SELECT / ALTER TABLE ADD|DROP CONSTRAINT / ALTER TABLE " +
            "ADD|RENAME|DROP COLUMN(S) / DROP TABLE / OPTIMIZE / VACUUM / " +
            "RESTORE; run SELECTs, SHOW TABLES, and DESCRIBE " +
            "HISTORY/DETAIL through GraftSql.sql")
      })

  // hand-routed maintenance verbs (Delta-style grammar extensions
  // Spark's parser refuses): OPTIMIZE / VACUUM / RESTORE
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+graft\s*\.\s*`?([^`\s;]+)`?\s*(?:ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+graft\s*\.\s*`?([^`\s;]+)`?\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS)(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?graft\s*\.\s*`?([^`\s;]+)`?\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  // partition evolution as one rewrite commit; BY () = unpartitioned
  private val RepartitionRe =
    """(?is)\s*REPARTITION\s+TABLE\s+graft\s*\.\s*`?([^`\s;]+)`?\s+BY\s*\(([^)]*)\)\s*;?\s*""".r

  private def maintenanceRoute(spark: SparkSession,
      sql: String): Option[Int] = sql match {
    case OptimizeRe(path0, zcols) =>
      val path = resolved(spark, path0)
      Some(Option(zcols).map(_.split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq).getOrElse(Nil) match {
        case Nil => TimeTravel.compact(spark, path, "")
        case Seq(c) => TimeTravel.compact(spark, path, "",
          clusterBy = Some((c, 16)))
        case cols if cols.size <= 8 => TimeTravel.compact(spark, path, "",
          zorderBy = Some((cols, 16)))
        case more => throw new IllegalArgumentException(
          s"ZORDER BY takes at most 8 columns (beyond that each axis " +
            s"gets under 8 bits of resolution — meaningless at file " +
            s"granularity), got ${more.size}: ${more.mkString(", ")}")
      })
    case VacuumRe(path0, n, unit, dry) =>
      val path = resolved(spark, path0)
      val latest = TimeTravel.latestVersion(spark, path)
      // RETAIN n VERSIONS keeps the newest n; RETAIN n HOURS (Delta's
      // spelling) keeps every version committed inside the window PLUS
      // the one current at its start — time travel to any instant
      // within the window keeps resolving
      val keepFrom =
        if (unit.equalsIgnoreCase("VERSIONS"))
          math.max(1, latest - n.toInt + 1)
        else {
          // clamp to the CURRENT floor: a retention window reaching
          // past an earlier vacuum must not try to lower it (those
          // versions are gone; re-vacuuming at the floor is a no-op)
          val floor = TimeTravel.history(spark, path)
            .map(_.version).min
          math.max(floor, TimeTravel.versionAsOfOption(spark, path,
            System.currentTimeMillis() - n.toLong * 3600_000L)
            .getOrElse(1))
        }
      TimeTravel.vacuum(spark, path, keepFrom, dryRun = dry != null)
      Some(latest)
    case RestoreRe(path0, v) =>
      Some(TimeTravel.restore(spark, resolved(spark, path0), v.toInt))
    case RepartitionRe(path0, cols) =>
      Some(TimeTravel.repartitionTable(spark, resolved(spark, path0),
        cols.trim))
    case _ => None
  }

  /** CREATE TABLE ... USING `graft-versioned` PARTITIONED BY (...) AS
    * SELECT — routes to [[TimeTravel.init]]; IF NOT EXISTS on an
    * existing table is a no-op returning its current version. */
  private def createAsSelect(spark: SparkSession,
      c: CreateTableAsSelect): Int = {
    val (path, registerAs) = createTarget(spark, identPath(c.name))
    c.tableSpec match {
      case u: UnresolvedTableSpec =>
        require(u.provider.forall(_.equalsIgnoreCase("graft-versioned")),
          s"CREATE TABLE graft.`…` must say USING `graft-versioned` " +
            s"(got ${u.provider.getOrElse("none")})")
      case _ => ()
    }
    val partCols = c.partitioning.map { t =>
      // identity transforms only: `name == "identity"` with one field
      // reference (IdentityTransform itself is private to Spark)
      require(t.name == "identity" && t.references.length == 1,
        s"only identity PARTITIONED BY columns are supported, got $t")
      t.references.head.fieldNames().mkString(".")
    }
    val exists = TimeTravel.latestVersion(spark, path) >= 1
    if (exists) {
      if (c.ignoreIfExists) {
        // re-bind the name even on the no-op path: a dropped binding
        // over surviving files comes back with one IF NOT EXISTS
        registerAs.foreach(n => graft.GraftSession.registerTable(spark,
          n, path, durable = true))
        return TimeTravel.latestVersion(spark, path)
      }
      throw new IllegalStateException(
        s"$path already has commits — CREATE TABLE refuses to replace " +
          "it; add IF NOT EXISTS or pick a fresh path")
    }
    val df = DmlBridge.ofRows(spark, rewriteReads(spark, c.query))
    val v = TimeTravel.init(spark, path, df, partCols.mkString(","))
    registerAs.foreach(n =>
      graft.GraftSession.registerTable(spark, n, path, durable = true))
    v
  }

  /** Bare CREATE TABLE (column list, no AS SELECT) — an EMPTY v1
    * carrying the schema and the declared partition layout
    * ([[TimeTravel.initEmpty]]); the first batch fills it. */
  private def createEmpty(spark: SparkSession, c: CreateTable): Int = {
    val (path, registerAs) = createTarget(spark, identPath(c.name))
    c.tableSpec match {
      case u: UnresolvedTableSpec =>
        require(u.provider.forall(_.equalsIgnoreCase("graft-versioned")),
          s"CREATE TABLE graft.`…` must say USING `graft-versioned` " +
            s"(got ${u.provider.getOrElse("none")})")
      case _ => ()
    }
    val partCols = c.partitioning.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"only identity PARTITIONED BY columns are supported, got $t")
      t.references.head.fieldNames().mkString(".")
    }
    if (TimeTravel.latestVersion(spark, path) >= 1) {
      if (c.ignoreIfExists) {
        // re-bind the name even on the no-op path: a dropped binding
        // over surviving files comes back with one IF NOT EXISTS
        registerAs.foreach(n => graft.GraftSession.registerTable(spark,
          n, path, durable = true))
        return TimeTravel.latestVersion(spark, path)
      }
      throw new IllegalStateException(
        s"$path already has commits — CREATE TABLE refuses to replace " +
          "it; add IF NOT EXISTS or pick a fresh path")
    }
    val schema = org.apache.spark.sql.types.StructType(
      c.columns.map(cd => org.apache.spark.sql.types
        .StructField(cd.name, cd.dataType, cd.nullable)))
    val v = TimeTravel.initEmpty(spark, path, schema,
      partCols.mkString(","))
    registerAs.foreach(n =>
      graft.GraftSession.registerTable(spark, n, path, durable = true))
    v
  }

  /** The CREATE target's path, plus the name to DURABLY register on
    * success when the operand was a bare unbound name: a path
    * operand passes through, a bound name reuses its binding (so
    * `CREATE … IF NOT EXISTS graft.sales` is a no-op on the existing
    * table), and an UNBOUND bare name auto-locates under the graft
    * warehouse dir ([[graft.GraftSession.tableLocation]]) — the
    * managed-table shape: `CREATE TABLE graft.sales (…)` needs no
    * path at all, and the name survives the JVM via the catalog file. */
  private def createTarget(spark: SparkSession,
      p: String): (String, Option[String]) =
    if (p.contains('/')) (p, None)
    else graft.GraftSession.tablePath(spark, p) match {
      case Some(path) => (path, None)
      case None => (graft.GraftSession.tableLocation(spark, p), Some(p))
    }

  /** DROP TABLE graft.<name> [IF EXISTS] — EXTERNAL-table semantics
    * (the Delta-on-paths convention): the NAME unbinds from the
    * session registry and the durable catalog file; the table's files
    * and log stay on disk, addressable by path and re-bindable by a
    * later CREATE IF NOT EXISTS or registerTable. Path operands are
    * refused (a path is a directory, not a catalog entry — deleting
    * data is the filesystem's job, and VACUUM's for history). Returns
    * the dropped table's latest version (0 for an IF EXISTS miss). */
  private def dropTableCmd(spark: SparkSession, d: DropTable): Int = {
    val name = identPath(d.child)
    require(!name.contains('/'),
      s"DROP TABLE takes a registered graft NAME, got the path '$name' " +
        "— a path-addressed table has no catalog entry to drop; delete " +
        "the directory (or VACUUM its history) instead")
    graft.GraftSession.tablePath(spark, name) match {
      case Some(path) =>
        val v = TimeTravel.latestVersion(spark, path)
        graft.GraftSession.unregisterTable(spark, name, durable = true)
        v
      case None if d.ifExists => 0
      case None => throw new IllegalArgumentException(
        s"no registered graft table named '$name' (registered: " +
          s"${graft.GraftSession.registeredTables(spark).mkString(", ")})" +
          " — add IF EXISTS to make the drop a no-op")
    }
  }

  private def identPath(name: LogicalPlan): String = {
    def fromParts(parts: Seq[String]): String = parts match {
      case Seq(cat, p) if cat.equalsIgnoreCase("graft") => p
      case other => throw new IllegalArgumentException(
        s"DDL target must be graft.`/abs/path` or a graft name, got " +
          s"`${other.mkString(".")}`")
    }
    name match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
        fromParts(u.nameParts)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
        fromParts(u.multipartIdentifier)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        fromParts(u.multipartIdentifier)
      case other => throw new IllegalArgumentException(
        s"unsupported DDL target shape: ${other.nodeName}")
    }
  }

  /** ALTER TABLE ... ADD CONSTRAINT name CHECK (expr) — routes to
    * [[TimeTravel.addConstraint]] (which validates the existing data
    * first, like Delta). */
  private def addConstraint(spark: SparkSession,
      a: AddCheckConstraint): Int = {
    val path = a.child.collectFirst {
      case r: UnresolvedRelation if graftPath(r).isDefined =>
        graftPath(r).get
    }.getOrElse(throw new IllegalArgumentException(
      "ADD CONSTRAINT target must be graft.`/abs/path`"))
    TimeTravel.addConstraint(spark, resolved(spark, path),
      a.checkConstraint.name, a.checkConstraint.condition)
  }

  private def dropConstraintCmd(spark: SparkSession,
      d: DropConstraint): Int = {
    val path = d.child.collectFirst {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        t.multipartIdentifier match {
          case Seq(cat, p) if cat.equalsIgnoreCase("graft") => p
          case other => throw new IllegalArgumentException(
            s"DROP CONSTRAINT target must be graft.`/abs/path`, got " +
              s"`${other.mkString(".")}`")
        }
    }.getOrElse(throw new IllegalArgumentException(
      "DROP CONSTRAINT target must be graft.`/abs/path`"))
    TimeTravel.dropConstraint(spark, resolved(spark, path), d.name)
  }

  /** The `graft.<x>` operand of an ALTER TABLE verb (Spark parses the
    * target as an UnresolvedTable). */
  private def alterTablePath(child: LogicalPlan, verb: String): String =
    child.collectFirst {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        t.multipartIdentifier match {
          case Seq(cat, p) if cat.equalsIgnoreCase("graft") => p
          case other => throw new IllegalArgumentException(
            s"$verb target must be graft.`/abs/path` or a registered " +
              s"graft name, got `${other.mkString(".")}`")
        }
    }.getOrElse(throw new IllegalArgumentException(
      s"$verb target must be graft.`/abs/path` or a registered graft " +
        "name"))

  /** ALTER TABLE ... ADD COLUMN(S) — a metadata-only schema widening
    * ([[TimeTravel.addColumns]]): zero files rewrite, pre-evolution
    * rows read the new columns as NULL. Nested paths, FIRST/AFTER
    * positions, and DEFAULT values are refused loudly (new columns
    * append, defaults belong to the write path). */
  private def addColumnsCmd(spark: SparkSession, a: AddColumns): Int = {
    val path = resolved(spark, alterTablePath(a.table, "ADD COLUMNS"))
    val fields = a.columnsToAdd.map { qc =>
      require(qc.path.isEmpty,
        s"nested ADD COLUMN (${(qc.path.map(_.name).getOrElse(Nil) :+
          qc.colName).mkString(".")}) is not supported — top-level " +
          "columns only")
      require(qc.position.isEmpty,
        "ADD COLUMN ... FIRST/AFTER is not supported — new columns " +
          "append to the schema")
      require(qc.default.isEmpty,
        "ADD COLUMN ... DEFAULT is not supported — pre-evolution rows " +
          "read NULL; backfill with UPDATE if a fill is needed")
      org.apache.spark.sql.types.StructField(qc.colName, qc.dataType,
        qc.nullable)
    }
    TimeTravel.addColumns(spark, path, fields)
  }

  /** ALTER TABLE ... RENAME COLUMN a TO b —
    * [[TimeTravel.renameColumn]]'s metadata-only commit (the mapping
    * keeps the physical name; time travel returns each version's own
    * names). */
  private def renameColumnCmd(spark: SparkSession,
      r: RenameColumn): Int = {
    val path = resolved(spark, alterTablePath(r.table, "RENAME COLUMN"))
    val from = r.column.name match {
      case Seq(n) => n
      case other => throw new IllegalArgumentException(
        s"nested RENAME COLUMN (${other.mkString(".")}) is not " +
          "supported — top-level columns only")
    }
    TimeTravel.renameColumn(spark, path, from, r.newName)
  }

  /** ALTER TABLE ... DROP COLUMN(S) — [[TimeTravel.dropColumn]]'s
    * metadata-only tombstone for every named column in ONE commit: a
    * refusal on any column (absent, partition, constrained, indexed)
    * drops none. IF EXISTS skips names absent at the tip instead of
    * refusing, and commits nothing when none remain. */
  private def dropColumnsCmd(spark: SparkSession, d: DropColumns): Int = {
    val path = resolved(spark, alterTablePath(d.table, "DROP COLUMN"))
    val names = d.columnsToDrop.map {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName =>
        f.name match {
          case Seq(n) => n
          case other => throw new IllegalArgumentException(
            s"nested DROP COLUMN (${other.mkString(".")}) is not " +
              "supported — top-level columns only")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported DROP COLUMN operand: $other")
    }
    val tip = TimeTravel.latestVersion(spark, path)
    val dropped =
      if (!d.ifExists) names
      else names.distinct.filter(n => TimeTravel.schemaAt(spark, path, tip)
        .exists(_.fieldNames.contains(n)))
    if (dropped.isEmpty) tip
    else TimeTravel.dropColumns(spark, path, dropped)
  }

  /** SQL QUERY surface over versioned tables — `spark.sql` semantics
    * with Delta's path addressing and time travel, no view
    * registration:
    * {{{
    *   GraftSql.sql(spark, "SELECT count(*) FROM graft.`/t`")
    *   GraftSql.sql(spark,
    *     "SELECT * FROM graft.`/t` VERSION AS OF 2 WHERE k > 10")
    *   GraftSql.sql(spark,
    *     "SELECT * FROM graft.`/t` TIMESTAMP AS OF '2026-08-01 00:00:00'")
    * }}}
    * Every `graft.`path`` relation (time-traveled or not) rewrites to
    * the declarative relation's resolved plan — so merge-on-read
    * versions, the codegen splice, pushed filters and file skipping
    * all apply exactly as they do to `spark.read.format(
    * "graft-versioned")`; non-graft relations (views, catalog tables)
    * resolve normally, so versioned tables join freely with anything
    * else in the query. */
  def sql(spark: SparkSession, query: String)
      : org.apache.spark.sql.DataFrame = query match {
    // SHOW TABLES: the catalog listing as a result set — one row per
    // resolvable name (this session's bindings ∪ the durable catalog
    // file), `durable` flagging the ones that survive the JVM
    case ShowTablesRe() =>
      import spark.implicits._
      val durable = graft.GraftSession.durableTables(spark)
      graft.GraftSession.registeredTables(spark)
        .map(n => (n,
          graft.GraftSession.tablePath(spark, n).getOrElse(""),
          durable.contains(n)))
        .toDF("table_name", "path", "durable")
    // DESCRIBE HISTORY / DETAIL return result sets, not versions —
    // they live here, not on exec (Spark's parser reads them as
    // DESCRIBE COLUMN, so they pre-route on the raw text)
    case DescribeRe(kind, path0) =>
      val path = resolved(spark, path0)
      if (kind.equalsIgnoreCase("HISTORY")) {
        import spark.implicits._
        TimeTravel.history(spark, path)
          .map(ci => (ci.version, ci.op.getOrElse(""),
            ci.timestampMs, ci.nAdded, ci.nRemoved, ci.checkpointed))
          .toDF("version", "operation", "timestamp_ms", "n_added",
            "n_removed", "checkpointed")
      } else {
        import spark.implicits._
        val d = TimeTravel.detail(spark, path)
        Seq((d.version, d.numFiles, d.sizeBytes, d.partitionColumn,
          d.schema.map(_.simpleString).getOrElse(""),
          d.constraints.size, d.bloomIndex.keys.toSeq.sorted
            .mkString(","), d.columnMapping.size, d.dvBoundFiles,
          d.bloomBoundFiles))
          .toDF("version", "num_files", "size_bytes",
            "partition_columns", "schema", "n_constraints",
            "bloom_index_columns", "n_mapped_columns", "dv_bound_files",
            "bloom_bound_files")
      }
    case _ => DmlBridge.ofRows(spark,
      rewriteReads(spark, spark.sessionState.sqlParser.parsePlan(query)))
  }

  private val DescribeRe =
    """(?is)\s*DESC(?:RIBE)?\s+(HISTORY|DETAIL)\s+graft\s*\.\s*`?([^`\s;]+)`?\s*;?\s*""".r
  private val ShowTablesRe =
    """(?is)\s*SHOW\s+TABLES(?:\s+IN\s+graft)?\s*;?\s*""".r

  /** Rewrite every `graft.`path`` relation in `plan` (with optional
    * VERSION/TIMESTAMP AS OF) to the declarative relation's analyzed
    * plan; everything else is left for the normal analyzer. */
  private def rewriteReads(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
    plan.transformUp {
      case RelationTimeTravel(r: UnresolvedRelation, ts, version)
          if graftPath(r).isDefined =>
        relationPlan(spark, graftPath(r).get, version,
          ts.map(timestampText))
      case r: UnresolvedRelation if graftPath(r).isDefined =>
        relationPlan(spark, graftPath(r).get, None, None)
    }
  }

  /** `graft.<x>` operands: an absolute backticked path, or a
    * session-registered table NAME ([[graft.GraftSession.registerTable]]).
    * Resolution to a path happens at the use site (it needs the
    * session). */
  private def graftPath(r: UnresolvedRelation): Option[String] =
    r.multipartIdentifier match {
      case Seq(cat, p) if cat.equalsIgnoreCase("graft") => Some(p)
      case _ => None
    }

  /** Name-or-path resolution against the session registry. */
  private def resolved(spark: SparkSession, p: String): String =
    graft.GraftSession.resolveTable(spark, p)

  /** A TIMESTAMP AS OF operand as the reader's `timestampAsOf` text:
    * string literals pass through; a timestamp-typed foldable folds to
    * epoch micros, which convert to the millis form the reader takes. */
  private[sql] def timestampText(e: Expression): String = {
    require(e.foldable && e.deterministic,
      s"TIMESTAMP AS OF operand must be a constant, got: ${e.sql}")
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case l: java.lang.Long
          if e.dataType ==
            org.apache.spark.sql.types.TimestampType => (l / 1000L).toString
      case other => String.valueOf(other)
    }
  }

  private def relationPlan(spark: SparkSession, path0: String,
      version: Option[String], ts: Option[String]): LogicalPlan = {
    val path = resolved(spark, path0)
    val reader = spark.read.format("graft-versioned").option("path", path)
    val withV = version.fold(reader)(v => reader.option("versionAsOf", v))
    val withTs = ts.fold(withV)(t => withV.option("timestampAsOf", t))
    val df = withTs.load()
    // surface the COMMITTED column order: the fast-path relation is a
    // HadoopFsRelation, which always lists partition columns LAST —
    // but SELECT *, DESCRIBE, and positional INSERT binding must all
    // speak the log's order, so project back when they differ (the
    // Project prunes away like any other; no plan cost)
    val committed = TimeTravel.schemaOfRecordFast(spark, path,
      version.map(_.trim.toInt).getOrElse(
        ts.fold(TimeTravel.latestVersion(spark, path))(t =>
          TimeTravel.versionAsOf(spark, path,
            graft.sources.GraftVersionedRelation.parseTs(t)))))
      .map(_.fieldNames.toSeq)
    committed
      .filter(o => o != df.columns.toSeq && o.toSet == df.columns.toSet)
      .fold(df)(o => df.select(o.map(
        org.apache.spark.sql.functions.col): _*))
      .queryExecution.analyzed
  }

  /** The `graft`.`<path>` target of a DML plan, plus its alias when
    * one was written (`MERGE INTO graft.\`/t\` AS t`). */
  private def target(plan: LogicalPlan): (String, Option[String]) =
    plan match {
      case SubqueryAlias(id, child) => (target(child)._1, Some(id.name))
      case r: UnresolvedRelation => r.multipartIdentifier match {
        case Seq(cat, p) if cat.equalsIgnoreCase("graft") => (p, None)
        case other => throw new IllegalArgumentException(
          s"DML target must be graft.`/abs/path` " +
            s"(got `${other.mkString(".")}`) — versioned tables are " +
            "path-addressed, the Delta convention for catalog-less " +
            "tables")
      }
      case other => throw new IllegalArgumentException(
        s"unsupported DML target shape: ${other.nodeName}")
    }

  /** Strip (or remap) the leading qualifier of attribute references:
    * a parsed `t.price > 10` must reach [[TimeTravel]] as the bare
    * `price` (single-table predicates) or as `tgt.price`/`src.price`
    * (the merge join's fixed aliases). */
  private def requalify(e: Expression,
      remap: Map[String, Seq[String]]): Expression = e.transformUp {
    case a: UnresolvedAttribute if a.nameParts.length > 1 &&
        remap.contains(a.nameParts.head.toLowerCase) =>
      UnresolvedAttribute(
        remap(a.nameParts.head.toLowerCase) ++ a.nameParts.tail)
  }

  private def bareName(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => throw new IllegalArgumentException(
      s"assignment key must be a column, got $other")
  }

  private def insert(spark: SparkSession, i: InsertIntoStatement): Int = {
    val path = resolved(spark, target(i.table)._1)
    require(i.partitionSpec.isEmpty,
      "static-partition INSERT clauses are not supported — the " +
        "versioned table partitions by its own layout; insert rows " +
        "carrying the partition column instead")
    // the source query may itself read graft tables (INSERT INTO
    // graft.`a` SELECT * FROM graft.`b` — the cross-table copy)
    var df = DmlBridge.ofRows(spark, rewriteReads(spark, i.query))
    if (i.userSpecifiedCols.nonEmpty) {
      require(i.userSpecifiedCols.length == df.columns.length,
        s"INSERT column list (${i.userSpecifiedCols.length}) and query " +
          s"output (${df.columns.length}) differ in arity")
      df = df.toDF(i.userSpecifiedCols: _*)
    }
    // SQL INSERT semantics: without a column list the query's output
    // maps to the table's columns BY POSITION (select-list names are
    // irrelevant — standard SQL), and values cast to the target
    // columns' types (a literal 9.9 parses as DECIMAL(2,1) — the
    // committed DOUBLE column decides, exactly as INSERT INTO does
    // everywhere)
    TimeTravel.schemaAt(spark, path,
      TimeTravel.latestVersion(spark, path)).foreach { ts =>
      if (i.userSpecifiedCols.isEmpty) {
        require(df.columns.length == ts.fields.length,
          s"INSERT query output (${df.columns.length} columns) and " +
            s"table (${ts.fields.length}) differ in arity")
        // transition guard: earlier releases bound INSERT output BY
        // NAME; positional is standard SQL, but a query whose output
        // names equal the table's columns in a DIFFERENT order is
        // near-certainly a by-name caller whose values would now land
        // in the wrong columns whenever types coincide — refuse loudly
        // instead of silently permuting
        val out = df.columns.map(_.toLowerCase)
        val tbl = ts.fieldNames.map(_.toLowerCase)
        require(!(out.sorted.sameElements(tbl.sorted) &&
            !out.sameElements(tbl)),
          "INSERT without a column list binds the query's output to " +
            "the table's columns BY POSITION, but this query's output " +
            s"names (${df.columns.mkString(", ")}) match the table's " +
            s"columns (${ts.fieldNames.mkString(", ")}) in a different " +
            "order — reorder the select list, or write an explicit " +
            "INSERT (col, ...) column list")
        df = df.toDF(ts.fieldNames.toIndexedSeq: _*)
      }
      val types = ts.fields.map(f => f.name -> f.dataType).toMap
      df = df.select(df.columns.toIndexedSeq.map(c => types.get(c)
        .map(t => org.apache.spark.sql.functions.col(c).cast(t).as(c))
        .getOrElse(org.apache.spark.sql.functions.col(c))): _*)
    }
    val partCol = TimeTravel.partitionColumn(spark, path)
    if (i.overwrite) TimeTravel.overwrite(spark, path, df, partCol)
    else TimeTravel.append(spark, path, df, partCol)
  }

  private def delete(spark: SparkSession, d: DeleteFromTable,
      mor: Boolean, changeFeed: Boolean): Int = {
    val (path0, alias) = target(d.table)
    val path = resolved(spark, path0)
    val cond = column(d.condition, alias)
    val partCol = TimeTravel.partitionColumn(spark, path)
    if (mor) TimeTravel.deleteWhereDv(spark, path, cond, partCol,
      changeFeed)
    else TimeTravel.deleteWhere(spark, path, cond, partCol, changeFeed)
  }

  private def update(spark: SparkSession, u: UpdateTable,
      mor: Boolean, changeFeed: Boolean): Int = {
    val (path0, alias) = target(u.table)
    val path = resolved(spark, path0)
    val cond = u.condition.map(column(_, alias))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val set = u.assignments.map(a =>
      bareName(a.key) -> column(a.value, alias)).toMap
    val partCol = TimeTravel.partitionColumn(spark, path)
    if (mor) TimeTravel.updateWhereDv(spark, path, cond, set, partCol,
      changeFeed)
    else TimeTravel.updateWhere(spark, path, cond, set, partCol,
      changeFeed)
  }

  /** A single-table expression as a Column: the target alias (if any)
    * strips off — an empty remap prefix — so `t.price` and `price`
    * both reach the scan as the bare column. */
  private def column(e: Expression, alias: Option[String]): Column =
    DmlBridge.column(requalify(e,
      alias.map(a => a.toLowerCase -> Seq.empty[String]).toMap))

  private def merge(spark: SparkSession, m: MergeIntoTable,
      changeFeed: Boolean): Int = {
    require(!m.withSchemaEvolution,
      "MERGE WITH SCHEMA EVOLUTION is not supported — evolve the " +
        "table with an evolveSchema append first")
    val (path0, tAlias) = target(m.targetTable)
    val path = resolved(spark, path0)
    val (srcPlan, sAlias) = m.sourceTable match {
      case SubqueryAlias(id, child) => (child, Some(id.name))
      case other => (other, None)
    }
    val source = DmlBridge.ofRows(spark, rewriteReads(spark, srcPlan))
    // the merge join's fixed scope: target alias → tgt, source → src
    val joinedMap: Map[String, Seq[String]] =
      tAlias.map(_.toLowerCase -> Seq("tgt")).toMap ++
        sAlias.map(_.toLowerCase -> Seq("src")).toMap
    // NOT MATCHED scope: the bare source row (no target to reference)
    val srcBareMap: Map[String, Seq[String]] =
      sAlias.map(_.toLowerCase -> Seq.empty[String]).toMap
    // BY SOURCE scope: the target row alone, under the join's tgt alias
    val tgtMap: Map[String, Seq[String]] =
      tAlias.map(_.toLowerCase -> Seq("tgt")).toMap
    // the ON condition: same-named equality conjuncts become the
    // (possibly composite) merge key; every other conjunct narrows the
    // MATCH itself (general ON — carried into the join condition)
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val (keyEqs, extras) = conjuncts(m.mergeCondition).partition {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        l.nameParts.last == r.nameParts.last
      case _ => false
    }
    require(keyEqs.nonEmpty,
      s"MERGE condition needs at least one key equality conjunct " +
        s"(t.k = s.k), got: ${m.mergeCondition.sql} — the key drives " +
        "file-pruned discovery; extra conjuncts of any shape may ride " +
        "alongside it")
    val keyCols = keyEqs.map {
      case EqualTo(l: UnresolvedAttribute, _) => l.nameParts.last
    }.distinct
    def joinedCol(e: Expression) =
      DmlBridge.column(requalify(e, joinedMap))
    def srcCol(e: Expression) =
      DmlBridge.column(requalify(e, srcBareMap))
    def tgtCol(e: Expression) =
      DmlBridge.column(requalify(e, tgtMap))
    val extraOn = extras.map(joinedCol).reduceOption(_ && _)
    val matched: Seq[TimeTravel.MergeClause] = m.matchedActions.map {
      case UpdateStarAction(cond) =>
        TimeTravel.MatchedUpdate(cond.map(joinedCol), Map.empty)
      case UpdateAction(cond, assignments, fromStar) =>
        TimeTravel.MatchedUpdate(cond.map(joinedCol),
          if (fromStar) Map.empty
          else assignments.map(a =>
            bareName(a.key) -> joinedCol(a.value)).toMap)
      case DeleteAction(cond) =>
        TimeTravel.MatchedDelete(cond.map(joinedCol))
      case other => throw new IllegalArgumentException(
        s"unsupported MATCHED action: $other")
    }
    val notMatched: Seq[TimeTravel.MergeClause] =
      m.notMatchedActions.map {
        case InsertStarAction(cond) =>
          TimeTravel.NotMatchedInsert(cond.map(srcCol))
        case InsertAction(cond, assignments) =>
          // explicit column list: target column ← source-scoped
          // expression, unlisted columns NULL (SQL INSERT semantics;
          // an identity list covering every column ≡ INSERT *)
          TimeTravel.NotMatchedInsert(cond.map(srcCol),
            assignments.map(a =>
              bareName(a.key) -> srcCol(a.value)).toMap)
        case other => throw new IllegalArgumentException(
          s"unsupported NOT MATCHED action: $other")
      }
    // WHEN NOT MATCHED BY SOURCE: target rows outside the source —
    // conditions and SET values reference the TARGET row only (qualify
    // them with the target alias; Delta imposes the same scope)
    val bySource: Seq[TimeTravel.MergeClause] =
      m.notMatchedBySourceActions.map {
        case UpdateAction(cond, assignments, _) =>
          TimeTravel.NotMatchedBySourceUpdate(cond.map(tgtCol),
            assignments.map(a =>
              bareName(a.key) -> tgtCol(a.value)).toMap)
        case DeleteAction(cond) =>
          TimeTravel.NotMatchedBySourceDelete(cond.map(tgtCol))
        case other => throw new IllegalArgumentException(
          s"unsupported NOT MATCHED BY SOURCE action: $other")
      }
    val partCol = TimeTravel.partitionColumn(spark, path)
    TimeTravel.merge(spark, path, source, keyCols.mkString(","), partCol,
      matched ++ notMatched ++ bySource, changeFeed = changeFeed,
      extraOn = extraOn)
  }
}
