package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** A parquet scan planned FROM A COMMIT LOG'S FILE LIST — no directory
  * listing, no `getFileStatus` calls, no parallel-discovery Spark job.
  *
  * `spark.read.parquet(paths: _*)` re-discovers what a versioned table's
  * log already states exactly: which files exist, how big they are and
  * when they were written. That discovery is not free — above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default 32)
  * Spark launches a WHOLE JOB with one task per path just to fetch file
  * statuses (a 960-file version read spent 1.3 s there at bench scale,
  * ~45% of the query), and below it the driver still pays one filesystem
  * round-trip per file. At 100 TB the listing job is the difference
  * between metadata-only planning and a cluster-wide stat() storm per
  * read — the exact reason Delta plans scans off its own log through a
  * custom `TahoeFileIndex` rather than `spark.read.parquet`.
  *
  * This is that file index for the graft log, and the only one: every
  * versioned read — the imperative readers, the `graft-versioned`
  * relation and SQL view, the streaming source and the change feed —
  * plans through it. The caller hands each file's relative path, size
  * and modification time straight out of its stats payload (`!bytes=`,
  * `!mtime=`); partition values are parsed from the `col=value` path
  * segments under the SAME unescape + user-schema cast rules the
  * built-in reader applies (inference never runs — values are strings
  * cast to the committed schema's type), and the relation is assembled
  * exactly as DataSource v1 would: `HadoopFsRelation` over
  * `ParquetFileFormat`, partition columns appended LAST. Everything
  * downstream — column pruning, parquet footer pushdown, `_metadata`
  * columns (the DV row-identity path), AQE — behaves identically to the
  * listed scan, because from the planner's view it IS the same relation,
  * only with the file statuses served from the log instead of the
  * filesystem. */
object LogFileIndex {

  /** One committed data file: its path relative to the data root
    * (partition dirs included) and, when its stats payload records
    * them, its on-disk byte size and modification time (epoch ms). A
    * file missing either takes its status from a listing of its
    * directory. */
  final case class LogFile(relPath: String, size: Option[Long],
      mtime: Option[Long])

  private final class Index(
      root: Path,
      override val partitionSchema: StructType,
      dirs: Seq[(InternalRow, Array[(String, FileStatus)])],
      prune: Option[Seq[Expression] => Seq[String]]) extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    // `partitionFilters` MUST prune here: FileSourceStrategy removes
    // partition-column predicates from the post-scan Filter on the
    // contract that the file index already applied them (partition
    // columns never exist inside the data files to re-check). Bind the
    // predicate to the partition schema and evaluate per directory —
    // the same prunePartitions shape PartitioningAwareFileIndex runs.
    // `dataFilters` stay in the plan: `prune` may drop files they prove
    // empty (a superset of the matching files survives), never rows.
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val inDirs =
        if (partitionFilters.isEmpty) dirs
        else {
          val bound = Predicate.createInterpreted(
            partitionFilters.reduce(And).transform {
              case a: AttributeReference =>
                val i = partitionSchema.indexWhere(_.name == a.name)
                require(i >= 0,
                  s"partition filter on unknown column ${a.name}")
                BoundReference(i, partitionSchema(i).dataType,
                  nullable = true)
            })
          dirs.filter { case (values, _) => bound.eval(values) }
        }
      val keep: String => Boolean = prune match {
        case Some(p) if dataFilters.nonEmpty => p(dataFilters).toSet
        case _ => _ => true
      }
      inDirs.iterator.map { case (values, files) =>
        PartitionDirectory(values,
          files.collect { case (rel, st) if keep(rel) => st })
      }.filter(_.files.nonEmpty).toSeq
    }
    override def inputFiles: Array[String] =
      dirs.flatMap(_._2.map(_._2.getPath.toString)).toArray
    override def refresh(): Unit = ()
    override val sizeInBytes: Long =
      dirs.iterator.flatMap(_._2.iterator.map(_._2.getLen)).sum
  }

  private def qualifiedRoot(spark: org.apache.spark.sql.SparkSession,
      rootDir: String): (FileSystem, Path) = {
    val raw = new Path(rootDir)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(raw))
  }

  /** Each file's status under `rootDir`: from the log when it records
    * both size and mtime, otherwise from one `listStatus` of its
    * directory, shared by every such file there. With
    * `spark.graft.log.fileIndex=false` every file takes the listed
    * status. A listed file that is not on disk fails the plan, as the
    * listed read would. */
  def statuses(sparkAny: org.apache.spark.sql.SparkSession, rootDir: String,
      files: Seq[LogFile]): Seq[FileStatus] = {
    val (fs, root) = qualifiedRoot(sparkAny, rootDir)
    val fromLog = !sparkAny.conf.getOption("spark.graft.log.fileIndex")
      .exists(_.equalsIgnoreCase("false"))
    val listed = scala.collection.mutable.Map
      .empty[Path, Map[String, FileStatus]]
    files.map { f =>
      val path = new Path(root, f.relPath)
      (f.size, f.mtime) match {
        case (Some(len), Some(mtime)) if fromLog =>
          new FileStatus(len, false, 0, 0, mtime, path)
        case _ =>
          listed.getOrElseUpdate(path.getParent,
            fs.listStatus(path.getParent).iterator
              .map(st => st.getPath.getName -> st).toMap)
            .getOrElse(path.getName, throw new java.io.FileNotFoundException(
              s"$path is in the commit log but not on disk"))
      }
    }
  }

  /** The relation over `files`. `schema` is the schema the files are
    * read under (the committed schema, or its physical-name image under
    * column mapping) INCLUDING the partition columns; `partCols` names
    * them in directory-nesting order (empty for unpartitioned layouts).
    * Output columns are data columns in `schema` order with partition
    * columns appended last — the exact shape `reader.schema(schema)
    * .parquet` produces. `prune`, when given, maps a scan's pushed data
    * filters to the relative paths that may hold matching rows. */
  def relation(sparkAny: org.apache.spark.sql.SparkSession, rootDir: String,
      files: Seq[LogFile], schema: StructType, partCols: Seq[String],
      prune: Option[Seq[Expression] => Seq[String]] = None)
      : HadoopFsRelation = {
    val spark = sparkAny.asInstanceOf[SparkSession]
    require(partCols.forall(schema.fieldNames.contains),
      s"partition columns ${partCols.mkString(", ")} are not all in the " +
        s"read schema (${schema.fieldNames.mkString(", ")})")
    // asNullable mirrors DataSource.resolveRelation on user-specified
    // schemas: files written before an ADD COLUMN evolution lack the new
    // column and must read as NULL — a non-nullable field would make the
    // vectorized reader refuse the file ("Required column is missing")
    val nullable = schema.asNullable
    val partSchema = StructType(partCols.map(c => nullable(c)))
    val dataSchema = StructType(
      nullable.filterNot(f => partCols.contains(f.name)))
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)

    // group files by partition directory, casting each dir's values once
    val byDir = new scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[(String, FileStatus)]]()
    files.iterator.zip(statuses(spark, rootDir, files).iterator).foreach {
      case (f, st) =>
        val slash = f.relPath.lastIndexOf('/')
        val dir = if (slash < 0) "" else f.relPath.substring(0, slash)
        byDir.getOrElseUpdate(dir,
          new scala.collection.mutable.ArrayBuffer[(String, FileStatus)]()) +=
          (f.relPath -> st)
    }
    val dirs = byDir.toSeq.map { case (dir, sts) =>
      val segs = if (dir.isEmpty) Array.empty[String] else dir.split('/')
      val byName = segs.iterator.map { seg =>
        val eq = seg.indexOf('=')
        require(eq > 0, s"partition segment without '=': $seg")
        ExternalCatalogUtils.unescapePathName(seg.take(eq)) ->
          ExternalCatalogUtils.unescapePathName(seg.drop(eq + 1))
      }.toMap
      val values = partCols.map { c =>
        val raw = byName.getOrElse(c, throw new IllegalArgumentException(
          s"file dir '$dir' carries no value for partition column '$c'"))
        // the writer spells null/empty partition values as the Hive
        // default marker; the listed read maps it back to null
        if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else Cast(Literal.create(raw, StringType), schema(c).dataType, zone)
          .eval(null)
      }
      (InternalRow.fromSeq(values), sts.toArray)
    }
    HadoopFsRelation(
      new Index(qualifiedRoot(spark, rootDir)._2, partSchema, dirs, prune),
      partitionSchema = partSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
  }

  /** [[relation]] as a DataFrame. */
  def scan(sparkAny: org.apache.spark.sql.SparkSession, rootDir: String,
      files: Seq[LogFile], schema: StructType,
      partCols: Seq[String]): DataFrame = {
    val spark = sparkAny.asInstanceOf[SparkSession]
    Dataset.ofRows(spark, LogicalRelation(
      relation(spark, rootDir, files, schema, partCols), isStreaming = false))
  }
}
