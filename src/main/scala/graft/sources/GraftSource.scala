package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SaveMode, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider, DataSourceRegister, PrunedFilteredScan,
  RelationProvider}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.dialect.ScanPrune
import graft.operators.{ManifestPrune, SnapshotOps}

/** Catalyst `dataFilters` → ScanPrune raw predicates (r16).
  *
  * The execution-time dual of the SQL front end's conjunct extraction:
  * where ScanPrune parses statement TEXT (and therefore only fires on
  * single-table statements it can attribute), this translates the
  * per-scan filter expressions Spark itself has already pushed down to
  * the file source — which exist for ANY plan shape (joins,
  * subqueries, CTEs), because predicate pushdown through the plan is
  * Catalyst's job, not the front end's. Values arrive TYPED (internal
  * representations — UTF8String, epoch micros/days, Decimal), so
  * date/timestamp literals encode directly (ScanPrune.EncLit) instead
  * of re-parsing text. Translation is conservative: only a bare
  * attribute compared to a literal of the SAME type translates;
  * anything else (casts, expressions, functions) is skipped, which can
  * only under-prune, never mis-prune. Dropping one branch of an OR
  * would NARROW the disjunction, so a partial OR translation drops the
  * whole OR (the ManifestPrune rule). */
object CatalystPrune {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def litOf(dt: DataType, v: Any): Option[ScanPrune.Lit] =
    if (v == null) None
    else (dt, v) match {
      case (StringType, s: UTF8String) =>
        Some(ScanPrune.StrLit(s.toString))
      // internal encodings match encodeBound's by construction:
      // timestamps are epoch MICROS (encodeBound(Instant) = micros),
      // dates are epoch DAYS (encodeBound(Date) = days)
      case (TimestampType, micros: java.lang.Long) =>
        Some(ScanPrune.EncLit(BigDecimal(micros.longValue)))
      case (DateType, days: java.lang.Integer) =>
        Some(ScanPrune.EncLit(BigDecimal(days.intValue)))
      case (BooleanType, b: java.lang.Boolean) =>
        Some(ScanPrune.EncLit(BigDecimal(if (b) 1 else 0)))
      case (_: DecimalType, d: Decimal) =>
        Some(ScanPrune.NumLit(d.toBigDecimal))
      case (DoubleType, d: java.lang.Double) =>
        if (d.isNaN || d.isInfinite) None
        else Some(ScanPrune.NumLit(BigDecimal(d.toString)))
      case (FloatType, f: java.lang.Float) =>
        if (f.isNaN || f.isInfinite) None
        else Some(ScanPrune.NumLit(BigDecimal(f.toString)))
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        Some(ScanPrune.NumLit(BigDecimal(n.longValue)))
      case _ => None
    }

  /** attribute-vs-literal of matching type, either side; the op is
    * flipped when the literal is on the left. */
  private def cmp(l: Expression, r: Expression, op: String,
      flip: String): Option[ScanPrune.RawPred] = (l, r) match {
    case (a: AttributeReference, Literal(v, dt)) if dt == a.dataType =>
      litOf(dt, v).map(ScanPrune.Cmp(a.name, op, _))
    case (Literal(v, dt), a: AttributeReference) if dt == a.dataType =>
      litOf(dt, v).map(ScanPrune.Cmp(a.name, flip, _))
    case _ => None
  }

  private def rawOf(e: Expression): Option[ScanPrune.RawPred] = e match {
    case EqualTo(l, r) => cmp(l, r, "=", "=")
    case GreaterThan(l, r) => cmp(l, r, ">", "<")
    case GreaterThanOrEqual(l, r) => cmp(l, r, ">=", "<=")
    case LessThan(l, r) => cmp(l, r, "<", ">")
    case LessThanOrEqual(l, r) => cmp(l, r, "<=", ">=")
    case In(a: AttributeReference, vs)
        if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      val lits = vs.map { case Literal(v, dt)
        if dt == a.dataType => litOf(dt, v) case _ => None }
      if (lits.forall(_.isDefined))
        Some(ScanPrune.InList(a.name, lits.flatten))
      else None
    case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
      val lits = hset.toSeq.map(litOf(a.dataType, _))
      if (lits.forall(_.isDefined))
        Some(ScanPrune.InList(a.name, lits.flatten))
      else None
    case StartsWith(a: AttributeReference, Literal(s: UTF8String, _)) =>
      Some(ScanPrune.Prefix(a.name, s.toString))
    case or: Or =>
      def branches(x: Expression): Seq[Expression] = x match {
        case Or(l, r) => branches(l) ++ branches(r)
        case b => Seq(b)
      }
      val bs = branches(or).map(rawOf)
      if (bs.forall(_.isDefined)) {
        val preds = bs.flatten
        val cols = preds.map(_.col.toLowerCase).distinct
        if (cols.size == 1 &&
            preds.forall(!_.isInstanceOf[ScanPrune.OrSame]))
          Some(ScanPrune.OrSame(preds.head.col, preds))
        else None
      } else None
    case _ => None
  }

  /** Top-level conjuncts of `filters` as raw predicates — a filter
    * that doesn't translate is dropped (monotone: pruning on a subset
    * of conjuncts only ever keeps more files). */
  def rawPreds(filters: Seq[Expression]): Seq[ScanPrune.RawPred] =
    filters.flatMap(conjuncts).flatMap(rawOf)

  /** Top-level IS [NOT] NULL conjuncts as (column, isNull) — the null
    * axis rides per-file `_n.` counts, not interval bounds. Spark
    * injects IsNotNull for every filtered column, so the all-null
    * file skip fires on ordinary WHERE clauses. */
  def nullPreds(filters: Seq[Expression]): Seq[(String, Boolean)] =
    filters.flatMap(conjuncts).collect {
      case IsNull(a: AttributeReference) => (a.name, true)
      case IsNotNull(a: AttributeReference) => (a.name, false)
    }
}

/** Manifest-backed [[FileIndex]] over one committed snapshot (r16).
  *
  * This is where the engine's file-skipping machinery — typed min/max
  * bounds, group envelopes, hidden-partitioning `_p.` constraints
  * (identity/days/bucket/truncate), same-column OR interval unions —
  * meets Spark's own scan planning: `listFiles` receives the
  * `dataFilters` FileSourceStrategy pushed down for THIS scan,
  * whatever the surrounding plan shape, translates them
  * ([[CatalystPrune]] → [[ManifestPrune.cnfPreds]] →
  * [[SnapshotOps.predFilesCnf]]) and lists only the surviving files.
  * A fact⋈dim join over a snapshot table therefore skips files the
  * dim-side constants rule out — the class of query the statement
  * front end (ScanPrune) structurally cannot attribute. The design is
  * Delta's (DeltaLog-backed TahoeFileIndex under a HadoopFsRelation)
  * re-expressed over this engine's manifest; the full parquet scan
  * stack — vectorized reader, footer pushdown, whole-stage codegen,
  * `_metadata` columns — is untouched above it.
  *
  * Scale note (r16): file sizes come from the manifest's own
  * `_bytes` stat (recorded at commit — the Iceberg/Delta
  * `file_size_in_bytes` shape), so index construction and listing
  * are pure metadata reads with zero filesystem calls per file;
  * pre-r16 entries fall back to one `getFileStatus` each. */
class GraftFileIndex(spark: SparkSession, tableDir: String, version: Int,
    val dataSchema: StructType,
    subset: Option[Seq[String]] = None) extends FileIndex {

  private val paths: Seq[String] =
    subset.getOrElse(SnapshotOps.snapshotFiles(tableDir, version))
  private val statuses: Seq[FileStatus] = {
    // sizes come from the manifest's `_bytes` stat (recorded at
    // commit, r16) — listing is a pure metadata read, no filesystem
    // call per file; entries predating the stat fall back to one
    // getFileStatus each
    val known = SnapshotOps.fileBytes(tableDir, version)
    lazy val conf = spark.sessionState.newHadoopConf()
    paths.map { p =>
      val hp = new Path(p)
      known.get(SnapshotOps.localPath(p)) match {
        case Some(len) =>
          new FileStatus(len, false, 1, 128L << 20, 0L, hp)
        case None => hp.getFileSystem(conf).getFileStatus(hp)
      }
    }
  }
  private def sessTz: java.time.ZoneId = java.time.ZoneId.of(
    spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))

  override def rootPaths: Seq[Path] = Seq(new Path(tableDir))
  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val raws = CatalystPrune.rawPreds(dataFilters)
    val preds =
      if (raws.isEmpty) Seq.empty
      else ManifestPrune.cnfPreds(tableDir, version, dataSchema, raws,
        sessTz)
    val kept: Set[String] =
      if (preds.isEmpty) paths.map(SnapshotOps.localPath).toSet
      else SnapshotOps.predFilesCnf(tableDir, version, preds)
        .map(SnapshotOps.localPath).toSet
    // null axis (r16): IS NULL skips zero-null files, IS NOT NULL
    // skips all-null (and empty) files — from the `_n.` manifest
    // counts; files without recorded counts always keep
    val np = CatalystPrune.nullPreds(dataFilters)
    val keptNull: Set[String] =
      if (np.isEmpty) kept
      else {
        val stats = SnapshotOps.fileNullStats(tableDir, version)
        kept.filter { p =>
          stats.get(p).forall { case (rows, nulls) =>
            np.forall { case (c, isNull) =>
              nulls.get(c) match {
                case None => true
                case Some(n) =>
                  if (isNull) n > 0 || rows < 0
                  else rows < 0 || n < rows
              }
            }
          }
        }
      }
    val keptStatuses = statuses.filter(s =>
      keptNull.contains(SnapshotOps.localPath(s.getPath.toString)))
    // subset indexes intersect implicitly: statuses only span the
    // subset, so the recorded (kept, total) is subset-relative
    GraftFileIndex.lastPrune.put(tableDir,
      (keptStatuses.size, paths.size))
    Seq(PartitionDirectory(InternalRow.empty, keptStatuses.toArray))
  }

  override def inputFiles: Array[String] = paths.toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
}

object GraftFileIndex {
  /** (kept, total) of the LAST listing per table dir — the pruning
    * observable q282-style entries and specs assert against (the
    * execution-path dual of Engine.lastPrune). */
  val lastPrune =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
}

/** Relation builders + the `graft` data-source format. */
object GraftRelation {

  private def nullableType(dt: DataType): DataType = dt match {
    case s: StructType => nullable(s)
    case a: ArrayType => a.copy(elementType = nullableType(a.elementType),
      containsNull = true)
    case m: MapType => m.copy(keyType = nullableType(m.keyType),
      valueType = nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  /** No deletion vectors, no equality deletes, no column mapping: the
    * snapshot's visible rows ARE its data files' rows, so a plain
    * file-source relation is exact. */
  def isClean(tableDir: String, version: Int): Boolean =
    SnapshotOps.deleteEntries(tableDir, version).isEmpty &&
      SnapshotOps.eqDeleteStats(tableDir, version)._1 == 0 &&
      SnapshotOps.columnMapping(tableDir, version).isEmpty

  /** File-source relation over [[GraftFileIndex]] — requires a clean,
    * non-empty snapshot (caller-checked). */
  def hadoopFsRelation(spark: SparkSession, tableDir: String,
      version: Int): HadoopFsRelation = {
    val files = SnapshotOps.snapshotFiles(tableDir, version)
    require(files.nonEmpty,
      s"graft relation over empty snapshot $tableDir v$version")
    // clean snapshots share one schema across files (appends align to
    // the table schema; evolution implies a column mapping, which
    // routes to the merge-on-read path instead) — one cached footer
    // read, the same source of truth the eq-delete reader uses.
    // asNullable is the file-source law (spark.read does the same):
    // a footer's REQUIRED fields must not surface as non-nullable
    // attributes — files may lie, and non-nullable scan output breaks
    // constraint propagation (Union.rewriteConstraints) upstream.
    val schema = nullable(SnapshotOps.footerSchema(spark, files.head))
    HadoopFsRelation(
      location = new GraftFileIndex(spark, tableDir, version, schema),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
  }

  /** The clean snapshot as a DataFrame whose scan lists files through
    * the manifest (public API only: baseRelationToDataFrame). */
  def frame(spark: SparkSession, tableDir: String,
      version: Int): org.apache.spark.sql.DataFrame =
    spark.baseRelationToDataFrame(hadoopFsRelation(spark, tableDir,
      version))

  /** A DV-free file GROUP of a dirty snapshot as a manifest-pruned
    * relation (r16): the group's files list through a subset
    * [[GraftFileIndex]], so Catalyst-pushed filters skip files inside
    * merge-on-read scan groups too — the eq-delete/DV read path's
    * share of the any-plan-shape pruning the clean path got. `anchor`
    * null derives the schema from the group's first footer (uniform
    * within a group by the grouping contract). */
  def subsetFrame(spark: SparkSession, tableDir: String, version: Int,
      files: Seq[String],
      anchor: StructType): org.apache.spark.sql.DataFrame = {
    require(files.nonEmpty, "subsetFrame over an empty group")
    val schema = nullable(
      if (anchor != null) anchor
      else SnapshotOps.footerSchema(spark, files.head))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      location = new GraftFileIndex(spark, tableDir, version, schema,
        Some(files)),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark))
  }
}

/** Correctness fallback for snapshots carrying merge-on-read debt
  * (DVs / equality deletes) or a column mapping: delegate to the
  * engine's visible-row reader. The anti-join plan runs inside the
  * RDD; manifest pruning and full codegen come back once the debt is
  * compacted away (the maintenance verbs' job). */
class SnapshotScanRelation(spark: SparkSession, tableDir: String,
    version: Int) extends BaseRelation with PrunedFilteredScan {
  private lazy val df = SnapshotOps.readSnapshot(spark, tableDir, version)
  override def sqlContext: SQLContext = spark.sqlContext
  override def schema: StructType = df.schema

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.{sources => sf}

  /** External Filter → Column, exactly or not at all. Only translated
    * filters are applied inside the composed plan — where Catalyst
    * pushes them down to the per-group manifest-pruned relations —
    * and ALL filters stay unhandled (the BaseRelation default), so
    * Spark re-applies them above: a skipped translation costs
    * pruning, never correctness. */
  private def translate(f: sf.Filter): Option[Column] = f match {
    case sf.EqualTo(a, v) if v != null => Some(col(a) === lit(v))
    case sf.GreaterThan(a, v) if v != null => Some(col(a) > lit(v))
    case sf.GreaterThanOrEqual(a, v) if v != null =>
      Some(col(a) >= lit(v))
    case sf.LessThan(a, v) if v != null => Some(col(a) < lit(v))
    case sf.LessThanOrEqual(a, v) if v != null => Some(col(a) <= lit(v))
    case sf.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      Some(col(a).isin(vs.toIndexedSeq: _*))
    case sf.IsNull(a) => Some(col(a).isNull)
    case sf.IsNotNull(a) => Some(col(a).isNotNull)
    case sf.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sf.And(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case sf.Or(l, r) => // dropping one OR branch would narrow it
      for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case sf.Not(c) => translate(c).map(!_)
    case _ => None
  }

  /** Filters and projection applied INSIDE the composed visible-row
    * plan (r16): Catalyst pushes them through the group unions and
    * eq-delete anti-joins down to the manifest-backed subset indexes,
    * so merge-on-read snapshots prune files through `format("graft")`
    * too — TableScan hid the whole plan behind an opaque RDD. */
  override def buildScan(requiredColumns: Array[String],
      filters: Array[sf.Filter]): RDD[Row] = {
    val filtered = filters.flatMap(translate).foldLeft(df)(_.where(_))
    filtered.select(requiredColumns.map(col).toIndexedSeq: _*).rdd
  }
}

/** `spark.read.format("graft")` — vanilla DataFrame reads of snapshot
  * tables WITHOUT the Engine (r16). Options:
  *   - `path`: the table directory (or `.load(path)`)
  *   - `versionAsOf`: a committed version number, or a named ref — a
  *     tag resolves to its pinned version, a branch fork to its head
  *   - `timestampAsOf`: 'yyyy-MM-dd[ HH:mm:ss]', resolved to the
  *     latest commit at-or-before the instant (session time zone)
  * Clean snapshots read through [[GraftFileIndex]] (manifest-pruned
  * file listing, full parquet scan stack); snapshots with
  * merge-on-read debt or a column mapping read through the
  * visible-row fallback. */
class GraftDataSource extends RelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  /** `df.writeStream.format("graft").option("path", dir)` — the
    * streaming sink ([[org.apache.spark.sql.graft.SnapshotStreamSink]]):
    * every micro-batch is one committed snapshot version, exactly-once
    * per epoch via the txn watermark. Options:
    *   - `txnAppId`: the stream's watermark identity (defaults to a
    *     checkpointLocation-derived id, else a path-derived one — set
    *     it explicitly when two queries share one checkpoint dir)
    *   - `mergeKeys`: comma-separated upsert keys, REQUIRED for
    *     Update mode (routes to commitMerge)
    *   - `statsCols`/`bloomCols`: manifest skipping stats, as on the
    *     batch writer
    * Layout comes from the table's own partition spec; partitionBy on
    * the stream writer is rejected rather than silently ignored. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft sink: layout comes from the table's partition spec " +
        "(PARTITIONED BY at create / SET PARTITION SPEC), not " +
        "partitionBy on the stream writer")
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft sink requires a path (the snapshot table directory)"))
    def cols(k: String): Seq[String] = parameters.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val mergeKeys = cols("mergeKeys")
    if (outputMode == org.apache.spark.sql.streaming.OutputMode.Update())
      require(mergeKeys.nonEmpty,
        "graft sink: Update mode needs a mergeKeys option (the " +
          "upsert key columns)")
    val streamId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation")
        .map(p => "ckpt-" + Integer.toHexString(p.hashCode)))
      .getOrElse("graft-" + Integer.toHexString(dir.hashCode))
    new org.apache.spark.sql.graft.SnapshotStreamSink(
      sqlContext.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      dir, streamId, outputMode, mergeKeys,
      cols("statsCols"), cols("bloomCols"))
  }

  /** `df.write.format("graft").mode(…).save(dir)` — vanilla DataFrame
    * WRITES of snapshot tables without the Engine (r16). Every mode
    * lands as one committed version through the snapshot protocol
    * (CAS-published, time-travelable, partition-spec-clustered):
    *   - Append: [[SnapshotOps.commitAppend]]; a fresh directory
    *     creates the table (the Delta convention)
    *   - Overwrite: [[SnapshotOps.commitOverwrite]] — prior units
    *     drop, history survives
    *   - ErrorIfExists (the DataFrameWriter default): first write
    *     creates; an existing table fails loudly
    *   - Ignore: no-op on an existing table
    * Appends to an existing table align columns BY NAME to the table
    * schema (order-free), requiring the exact column set and
    * per-column `sameType` (nullability-insensitive) — silent
    * positional coercion is how a reordered frame corrupts a table.
    * Options: `statsCols`/`bloomCols` (comma-separated) feed the
    * manifest's skipping stats, same knobs the Engine's auto_stats
    * derives. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft sink requires a path (the snapshot table directory)"))
    require(!parameters.contains("versionAsOf") &&
      !parameters.contains("timestampAsOf"),
      "graft sink: time travel options are read-only")
    def cols(k: String): Seq[String] = parameters.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val exists = SnapshotOps.currentVersion(dir) > 0
    val aligned = if (!exists) data else {
      val want = SnapshotOps.readSnapshot(spark, dir,
        SnapshotOps.currentVersion(dir)).schema
      val have = data.schema
      val missing = want.map(_.name).filterNot(have.fieldNames.contains)
      val extra = have.fieldNames.filterNot(f =>
        want.fieldNames.contains(f))
      require(missing.isEmpty && extra.isEmpty,
        s"graft sink: frame schema does not match table $dir — " +
          s"missing ${missing.mkString(",")} extra ${extra.mkString(",")}")
      want.foreach { f =>
        val got = have(f.name).dataType
        require(got.catalogString == f.dataType.catalogString,
          s"graft sink: column ${f.name} is $got, table has ${f.dataType}")
      }
      data.select(want.map(f => data(f.name)): _*)
    }
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft sink: $dir already holds a table (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite if exists =>
        SnapshotOps.commitOverwrite(spark, dir, aligned,
          statsCols = cols("statsCols"), bloomCols = cols("bloomCols"))
      case _ => // Append, or any mode's table-creating first write
        SnapshotOps.commitAppend(spark, dir, aligned,
          statsCols = cols("statsCols"), bloomCols = cols("bloomCols"))
    }
    createRelation(sqlContext,
      parameters -- Seq("statsCols", "bloomCols"))
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path (the snapshot table directory)"))
    require(!(parameters.contains("versionAsOf") &&
      parameters.contains("timestampAsOf")),
      "graft source: versionAsOf and timestampAsOf are mutually exclusive")
    val (tDir, version) = parameters.get("versionAsOf") match {
      case Some(v) if v.matches("\\d+") => (dir, v.toInt)
      case Some(ref) => // named ref: tag first, then branch fork
        require(ref.matches("[A-Za-z0-9_-]+"),
          s"versionAsOf '$ref': not a version or ref name")
        SnapshotOps.tagVersion(dir, ref) match {
          case Some(v) => (dir, v)
          case None =>
            val bd = SnapshotOps.branchForkDir(dir, ref)
            require(new java.io.File(bd, "manifests").isDirectory,
              s"versionAsOf '$ref': no tag or branch named '$ref'")
            (bd, SnapshotOps.currentVersion(bd))
        }
      case None => parameters.get("timestampAsOf") match {
        case Some(ts) =>
          val zone = java.time.ZoneId.of(
            spark.conf.get("spark.sql.session.timeZone",
              java.util.TimeZone.getDefault.getID))
          val ms = ManifestPrune.parseLocalInstant(ts, zone)
            .getOrElse(throw new IllegalArgumentException(
              s"timestampAsOf: cannot parse '$ts'")).toEpochMilli
          val v = SnapshotOps.versionAsOf(dir, ms)
            .getOrElse(throw new IllegalArgumentException(
              s"timestampAsOf '$ts': no commit at or before it " +
                s"(or it predates the retention horizon)"))
          (dir, v)
        case None => (dir, SnapshotOps.currentVersion(dir))
      }
    }
    if (GraftRelation.isClean(tDir, version) &&
        SnapshotOps.snapshotFiles(tDir, version).nonEmpty)
      GraftRelation.hadoopFsRelation(spark, tDir, version)
    else new SnapshotScanRelation(spark, tDir, version)
  }
}
