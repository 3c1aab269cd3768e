package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField
import graft.dialect.DuckRewriter
import graft.operators.Summarize

/** Session façade: the full DuckDB-style command surface over Spark
  * (SURVEY.md §2.7 D1-D17, §4 item 3). Queries flow through the dialect
  * rewriter into `spark.sql`; commands Spark SQL cannot express (COPY,
  * ATTACH, SUMMARIZE, PRAGMA, DML on view-backed tables) are driver-side
  * operations on a mutable name → DataFrame catalog.
  *
  * DML strategy — rematerialization: tables live as temp views over
  * DataFrames; UPDATE/ALTER/DELETE/INSERT re-derive the DataFrame and
  * re-register it. Plans stay lazy (nothing materializes until read), so
  * a chain of DML is one fused Catalyst plan at read time. This is the
  * right shape for the reference's ≤1k-row DDL fixtures; at warehouse
  * scale mutation belongs to a table format (the read path — parquet
  * scans with pushdown — is the 100 TB path, and is unaffected).
  */
class Engine(val spark: SparkSession) {
  GraftSession.prepare(spark)

  /** Base directory for relative file paths in COPY/read_csv_auto/
    * file-as-table (DuckDB resolves them against its cwd). */
  var workDir: String = System.getProperty("java.io.tmpdir")

  /** Name of the primary database (DuckDB names it after the db file). */
  var defaultDbName: String = "memory"

  /** DESCRIBE nullability overrides for tables whose source format can't
    * carry constraints (parquet fixtures of NOT NULL columns). */
  val notNullCols: mutable.Map[String, Set[String]] = mutable.Map.empty

  /** Declared type text per (table, column) where Spark's type system
    * can't carry it (FLOAT[100] fixed-size arrays are metadata-only,
    * SURVEY.md §1.2) — DESCRIBE renders the declaration. */
  val declaredTypes: mutable.Map[String, Map[String, String]] =
    mutable.Map.empty

  /** Read-side path resolution: http(s) sources go through the fetch
    * shim. Write targets must use [[resolveWritePath]] — downloading a
    * COPY TO destination would be nonsense. */
  private def resolvePath(p: String): String =
    if (p.startsWith("http://") || p.startsWith("https://")) fetchToTmp(p)
    else if (p.startsWith("/") || p.contains("://")) p
    else s"$workDir/$p"

  private def resolveWritePath(p: String): String = {
    require(!p.startsWith("http://") && !p.startsWith("https://"),
      s"COPY TO an http(s) URL is not supported: $p")
    if (p.startsWith("/") || p.contains("://")) p else s"$workDir/$p"
  }

  /** S3 shim (SURVEY §2.1): DuckDB's httpfs reads https:// URLs in-query
    * (reference dev.json:199-215 read_csv_auto('https://…titanic.csv'));
    * Spark's Hadoop FS has no http(s) scheme, so the file is fetched once
    * to a driver-local temp file and the scan reads that. Memoized per
    * URL per engine — repeated queries re-read the local copy. Follows
    * redirects across protocols (http→https 301s, which
    * HttpURLConnection refuses to follow itself) and carries
    * connect/read timeouts so a dead server fails the query instead of
    * hanging it. Scale note: this is for bootstrap-sized side inputs
    * (the reference's use case); corpus-scale data should land on a
    * real shared FS first. */
  private val fetched = mutable.Map.empty[String, String]
  private def fetchToTmp(url: String): String =
    fetched.getOrElseUpdate(url, {
      // suffix from the path component only (helps format inference);
      // a dot in the hostname/query must not leak into the suffix
      val path = new java.net.URI(url).getPath
      val suffix = path.lastIndexOf('.') match {
        case i if i >= 0 && !path.substring(i).contains('/') =>
          path.substring(i)
        case _ => ".tmp"
      }
      val tmp = java.nio.file.Files.createTempFile("graft_http", suffix)
      tmp.toFile.deleteOnExit()
      var target = url
      var redirects = 0
      var in: java.io.InputStream = null
      while (in == null) {
        val conn = new java.net.URL(target).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(60000)
        conn.setInstanceFollowRedirects(false)
        conn.getResponseCode match {
          case code if code >= 300 && code < 400 =>
            conn.disconnect()
            redirects += 1
            require(redirects <= 5, s"too many redirects fetching $url")
            val loc = conn.getHeaderField("Location")
            require(loc != null, s"redirect without Location from $target")
            target = new java.net.URL(new java.net.URL(target), loc).toString
          case code if code >= 400 =>
            conn.disconnect()
            throw new java.io.IOException(s"HTTP $code fetching $url")
          case _ => in = conn.getInputStream
        }
      }
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toString
    })

  /** table name (lowercase) → current DataFrame */
  private val tables = mutable.LinkedHashMap.empty[String, DataFrame]
  /** attached database alias → table names */
  private val attached = mutable.LinkedHashMap.empty[String, Seq[String]]
  private var viewSeq = 0

  private def norm(name: String): String =
    name.toLowerCase.stripPrefix("\"").stripSuffix("\"")

  def register(name: String, df: DataFrame): Unit = {
    val n = norm(name)
    // any direct re-register (CTAS, ALTER, CREATE) supersedes a
    // snapshot-backed binding — the lazy DataFrame is authoritative
    // again until the next DML materializes it. The superseded dir is
    // RETIRED, not deleted: the incoming DataFrame may lazily derive
    // from the old snapshot files (ALTER TABLE reads them), so the
    // files must outlive this statement; [[close]] reclaims them.
    snapshotDirs.remove(n).foreach(retiredDirs += _)
    bind(n, df)
  }

  private def bind(n: String, df: DataFrame): Unit = {
    tables(n) = df
    // temp views are single-part; dotted (attached-catalog) names resolve
    // through the Engine's own map and an underscored alias view
    if (n.contains('.')) df.createOrReplaceTempView(n.replace('.', '_'))
    else df.createOrReplaceTempView(n)
  }

  // ---- snapshot-backed DML ----------------------------------------------
  // UPDATE/DELETE/INSERT/MERGE route through the transactional snapshot
  // layer (graft.operators.SnapshotOps) instead of lazy
  // rematerialization: the first DML against a table materializes it as
  // an immutable-file snapshot table, and each subsequent statement is a
  // committed version — file-granular copy-on-write for UPDATE/DELETE,
  // manifest-union append for INSERT, key-based upsert for MERGE. The
  // regex front end is unchanged; only the execution story moves from
  // "re-derive the DataFrame" to "commit against the table format",
  // which is the shape that survives 100 TB (the rematerialization path
  // remains only as the fallback for shapes the snapshot layer cannot
  // hold: empty tables awaiting schema-only DDL, NullType columns).

  private val snapshotDirs = mutable.Map.empty[String, String]

  /** Snapshot dirs superseded by a re-register — their files may still
    * back live lazy DataFrames (an ALTER derives from the old files),
    * so they are reclaimed only at [[close]], never mid-session. */
  private val retiredDirs = mutable.ArrayBuffer.empty[String]

  /** Recursively delete a first-DML materialization dir. Guarded to the
    * engine's own temp naming so a mis-bound path can never delete user
    * data. The dir is "graft_engine_tbl…/t" under the temp root — the
    * root is what createTempDirectory made and what must go. */
  private def deleteSnapshotDir(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir).getParent
    if (root != null &&
        root.getFileName.toString.startsWith("graft_engine_tbl") &&
        java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  /** Reclaim every snapshot materialization this engine created (live
    * bindings and retired ones). Long-lived sessions and per-entry
    * engines (Bench/Verify running the SQL-DML entries) call this so
    * first-DML table copies never accumulate in the temp dir.
    *
    * Call only when this engine's RESULTS are no longer needed: any
    * DataFrame previously obtained from it may lazily read the
    * reclaimed files. Snapshot-backed tables are unbound here so a
    * later statement fails with a clear "table not found" instead of
    * a FileNotFoundException deep inside a scan; lazily-bound tables
    * (never touched by DML) remain usable. */
  def close(): Unit = {
    snapshotDirs.keys.foreach { n =>
      tables.remove(n)
      spark.catalog.dropTempView(
        if (n.contains('.')) n.replace('.', '_') else n)
    }
    // introspection views reflect THIS engine's catalog — a later
    // engine on the same session must rebuild, never read stale ones
    spark.catalog.dropTempView("information_schema_tables")
    spark.catalog.dropTempView("information_schema_columns")
    snapshotDirs.values.foreach(deleteSnapshotDir)
    snapshotDirs.clear()
    retiredDirs.foreach(deleteSnapshotDir)
    retiredDirs.clear()
    lastCommit.clear()
    // settings are session-scoped in DuckDB: a closed Engine's SETs
    // must not leak into the next Engine on the same SparkSession
    // (auto_stats or delete_mode surviving a close would silently
    // change an unrelated session's commit behaviour)
    setKeys.foreach(k => spark.conf.unset(s"graft.setting.$k"))
    setKeys.clear()
    // ...including the Spark-native confs SET derived (threads →
    // shuffle.partitions): restore each to its pre-Engine value so a
    // closed Engine's SET can't change a later Engine's behaviour
    derivedConfs.foreach { case (k, prior) =>
      prior match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
    derivedConfs.clear()
  }

  /** Last snapshot commit per table — spec-asserted (reuse/write/version
    * counts prove DML is file-granular COW, not a table rewrite). */
  val lastCommit: mutable.Map[String, graft.operators.SnapshotOps.Committed] =
    mutable.Map.empty

  /** Last SQL-scan pruning decision per table, (files kept, files
    * total) — recorded whenever a plain SELECT's WHERE was translated
    * to manifest constraints (r14), whether or not it skipped
    * anything. The q271 entry's observable. */
  val lastPrune: mutable.Map[String, (Int, Int)] = mutable.Map.empty

  /** Setting keys this Engine wrote (`SET k = v`), unset by close(). */
  private val setKeys: mutable.Set[String] = mutable.Set.empty

  /** Spark-native confs derived from SET (e.g. threads →
    * spark.sql.shuffle.partitions) with their pre-SET values (None =
    * was unset). First write records the pre-Engine value; close()
    * restores it so derived confs die with the session too. */
  private val derivedConfs: mutable.Map[String, Option[String]] =
    mutable.Map.empty

  private def setDerived(sparkKey: String, value: String): Unit = {
    if (!derivedConfs.contains(sparkKey))
      derivedConfs(sparkKey) = spark.conf.getOption(sparkKey)
    spark.conf.set(sparkKey, value)
  }

  /** Statement-scoped time-travel views → (table dir, resolved
    * version), so [[pruneScan]] can prune AS-OF reads against the
    * manifest of the version actually being read. */
  private val asOfBinds: mutable.Map[String, (String, Int)] =
    mutable.Map.empty

  /** STATEMENT-scoped observable: tables whose count(*) was answered
    * from manifest metadata (no data file opened) → the answer, for
    * the most recent fall-through SELECT only — the map clears at the
    * start of every such statement, so a scan-path count can never
    * leave a stale metadata claim behind. */
  val lastMetaCount: mutable.Map[String, Long] = mutable.Map.empty

  /** `SELECT count(*) [AS a] FROM t` over a snapshot-backed table →
    * the summed manifest row count (Iceberg count pushdown), as a
    * 1-row frame named like Spark would name it ("count(1)" unaliased)
    * so the shortcut is invisible to callers. None whenever the shape
    * doesn't match or the metadata answer isn't exact —
    * [[graft.operators.SnapshotOps.snapshotRowCount]] declines on
    * eq-deletes and stats-free files rather than lying. */
  private def metaCount(ls: Vector[graft.dialect.SqlNormalizer.Lexeme])
      : Option[DataFrame] = {
    import graft.dialect.SqlNormalizer.{Op, Word}
    def w(i: Int): Option[String] = ls.lift(i).map(_.tok).collect {
      case Word(x) => x }
    def op(i: Int, o: String): Boolean =
      ls.lift(i).map(_.tok).contains(Op(o))
    if (!w(0).exists(_.equalsIgnoreCase("SELECT"))) return None
    if (!w(1).exists(_.equalsIgnoreCase("count")) || !op(2, "(") ||
      !op(3, "*") || !op(4, ")")) return None
    val (alias, fromI) =
      if (w(5).exists(_.equalsIgnoreCase("AS")) && w(6).isDefined)
        (w(6), 7)
      else (None, 5)
    if (!w(fromI).exists(_.equalsIgnoreCase("FROM"))) return None
    val tname = w(fromI + 1).getOrElse(return None)
    if (ls.length != fromI + 2) return None
    val n = if (snapshotDirs.contains(norm(tname))) norm(tname)
      else snapshotDirs.keys.find(_.replace('.', '_') == norm(tname))
        .getOrElse(return None)
    val dir = snapshotDirs(n)
    import graft.operators.SnapshotOps
    SnapshotOps.snapshotRowCount(dir, SnapshotOps.currentVersion(dir))
      .map { rows =>
        lastMetaCount(n) = rows
        import spark.implicits._
        Seq(rows).toDF(alias.getOrElse("count(1)"))
      }
  }

  private def boundsEncodable(dt: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | StringType | DateType | TimestampType |
        BooleanType => true
      case _ => false
    }
  }

  /** Columns whose per-file min/max should land in the manifest at
    * commit when `SET auto_stats = true` is active: every top-level
    * column of a bounds-encodable type (SnapshotOps.encodeBound).
    * Off by default — stats cost one aggregate pass over the commit's
    * own files, a price existing pipelines shouldn't silently pay
    * (footer-served commits make it near-free, but the fallback pass
    * is still a job). */
  private def autoStatsCols(df: DataFrame): Seq[String] = {
    val on = spark.conf.getOption("graft.setting.auto_stats")
      .exists(v => Set("true", "1", "on")(v.trim.toLowerCase))
    if (!on) Nil
    else df.schema.fields.collect {
      case f if boundsEncodable(f.dataType) => f.name }.toSeq
  }

  /** Declared write layout per table (`ALTER TABLE t WRITE ORDERED BY
    * cols [INTO n FILES]`): appends range-partition + sort rows on the
    * declared keys, so every commit lands as key-banded files with
    * tight bounds — the Iceberg sort-order table property. Declaring a
    * layout IS declaring skipping intent, so the sort keys' stats are
    * recorded on every commit regardless of auto_stats. */
  private val writeOrder: mutable.Map[String, (Seq[String], Int)] =
    mutable.Map.empty

  private def applyWriteOrder(name: String, df: DataFrame): DataFrame =
    writeOrder.get(norm(name)).map { case (cols, n) =>
      val cs = cols.flatMap(c =>
        df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(f =>
          col(f.name)))
      if (cs.isEmpty) df
      else df.repartitionByRange(n, cs: _*).sortWithinPartitions(cs: _*)
    }.getOrElse(df)

  private def sortStatsCols(name: String, df: DataFrame): Seq[String] =
    writeOrder.get(norm(name)).map(_._1.flatMap(c =>
      df.schema.fields.find(f => f.name.equalsIgnoreCase(c) &&
        boundsEncodable(f.dataType)).map(_.name))).getOrElse(Nil)

  /** The snapshot table directory backing `name`, when DML has
    * materialized it. */
  def snapshotDir(name: String): Option[String] =
    snapshotDirs.get(norm(name))

  /** [[snapshotDir]] for a history verb, which fails without one. */
  private def historyDir(verb: String, name: String): String =
    snapshotDir(name).getOrElse(throw new IllegalArgumentException(
      s"$verb: '$name' has no committed snapshot history"))

  /** Parquet cannot hold these — such tables stay on the lazy path. */
  private def snapshotable(df: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    def hasNull(dt: DataType): Boolean = dt match {
      case NullType => true
      case s: StructType => s.fields.exists(f => hasNull(f.dataType))
      case a: ArrayType => hasNull(a.elementType)
      case m: MapType => hasNull(m.keyType) || hasNull(m.valueType)
      case _ => false
    }
    !df.schema.fields.exists(f => hasNull(f.dataType))
  }

  private def registerSnapshot(name: String, dir: String): Unit = {
    import graft.operators.SnapshotOps
    // commit-time maintenance policy (r16): every snapshot (re)bind —
    // i.e. every committed DML — runs the metadata-only debt check
    // (stacked delete files, dead-row ratio; no data file opened).
    // With `SET auto_compact = true` a tripped policy pays the debt
    // RIGHT HERE as one committed compaction (time travel spans it,
    // the DV/eq lines bake in); otherwise the verdict is only
    // recorded, queryable via PRAGMA table_maintenance.
    val debt = SnapshotOps.maintenanceDebt(dir,
      SnapshotOps.currentVersion(dir))
    val auto = spark.conf.getOption("graft.setting.auto_compact")
      .exists(v => Set("true", "1", "on")(v.trim.toLowerCase))
    maintenanceFlags(norm(name)) =
      if (debt.flagged && auto) {
        SnapshotOps.commitCompact(spark, dir,
          math.max(1, math.min(debt.dataFiles, 4)))
        SnapshotOps.maintenanceDebt(dir, SnapshotOps.currentVersion(dir))
          .copy(reason = s"auto_compacted(${debt.reason})")
      } else debt
    // bind, not register: register would retire the very dir being bound
    bind(norm(name), graft.operators.SnapshotOps.readLatest(spark, dir))
    snapshotDirs(norm(name)) = dir
  }

  /** Last commit-time maintenance verdict per snapshot table (r16) —
    * PRAGMA table_maintenance recomputes against the current manifest,
    * so a manual SnapshotOps commit can never leave this stale; the map
    * exists so the commit-time decision (incl. the auto_compacted
    * marker) stays observable. */
  val maintenanceFlags: mutable.Map[String,
    graft.operators.SnapshotOps.MaintenanceDebt] = mutable.Map.empty

  /** INSERT: a transactional manifest-union append when the table can
    * live in the snapshot layer (the aligned rows become version 1 of
    * a previously-empty table); lazy union otherwise. */
  private def appendRows(name: String, target: DataFrame,
      rows: DataFrame): Unit =
    // check the INSERT's own rows BEFORE materializing: the other
    // order would commit a full table copy and then abandon it when
    // the rows can't live in parquet (orphaned snapshot, stale
    // lastCommit)
    (if (snapshotable(rows)) ensureSnapshot(name, forAppend = true)
     else None) match {
      case Some(dir) =>
        flushPendingSpec(name, dir)
        val laid = applyWriteOrder(name, rows)
        lastCommit(norm(name)) =
          graft.operators.SnapshotOps.commitAppend(spark, dir, laid,
            statsCols =
              (autoStatsCols(laid) ++ sortStatsCols(name, laid)).distinct)
        registerSnapshot(name, dir)
      case None =>
        register(name, target.unionByName(rows))
    }

  /** Materialize `name` into the snapshot layer on first mutation.
    * None → the table must use the legacy rematerialization path
    * (empty, or a schema parquet cannot carry). `forAppend` admits an
    * empty table: the INSERT's own rows become version 1. */
  private def ensureSnapshot(name: String,
      forAppend: Boolean = false): Option[String] = {
    val n = norm(name)
    snapshotDirs.get(n).orElse {
      val df = table(n)
      if (!snapshotable(df)) None
      else {
        val empty = df.isEmpty // one job, reused below
        if (empty && !forAppend) None
        else {
          // a durable dir that already has history but isn't bound to
          // this table is a CONFLICT (a CTAS shadowing an existing
          // warehouse table) — appending would interleave two tables
          val dir = warehouseDir(n).map { d =>
            require(!new java.io.File(d, "manifests").isDirectory,
              s"table $n already exists in the warehouse ($d) — " +
                "DROP TABLE it first")
            d
          }.getOrElse(java.nio.file.Files
            .createTempDirectory("graft_engine_tbl").toString + "/t")
          // record the binding only once data is committed; an empty
          // table's dir (forAppend) is provisional until the INSERT's
          // own commit lands (appendRows calls registerSnapshot)
          if (!empty) {
            flushPendingSpec(n, dir)
            val laid = applyWriteOrder(n, df)
            lastCommit(n) =
              graft.operators.SnapshotOps.commitAppend(spark, dir, laid,
                statsCols =
                  (autoStatsCols(laid) ++ sortStatsCols(n, laid)).distinct)
            snapshotDirs(n) = dir
          }
          Some(dir)
        }
      }
    }
  }

  // ---- warehouse persistence (r15) --------------------------------------
  // `SET warehouse = <dir>`: snapshot tables materialize DURABLY at
  // `<dir>/<name>` instead of session scratch. close() leaves them (the
  // temp-dir guard in deleteSnapshotDir never matches a warehouse
  // path), and a NEW Engine re-attaches everything in the warehouse
  // the moment the setting is issued — the manifest chain is
  // self-describing, so content, history, time travel and retention
  // PRAGMAs all operate across sessions. DROP TABLE on a warehouse
  // table IS destructive (the DuckDB contract for durable tables).

  private def warehousePath: Option[String] =
    spark.conf.getOption("graft.setting.warehouse").filter(_.nonEmpty)

  private def warehouseDir(name: String): Option[String] =
    warehousePath.map(wh => s"$wh/${norm(name)}")

  private def attachWarehouse(dir: String): Unit = {
    val root = new java.io.File(dir)
    require(root.isDirectory || root.mkdirs(),
      s"warehouse: cannot create $dir")
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(t => new java.io.File(t, "manifests").isDirectory)
      .foreach { t =>
        registerSnapshot(t.getName, t.getPath)
        // branch forks are durable with their table — re-bind their
        // writable `<table>.branch_<name>` aliases too
        graft.operators.SnapshotOps.listBranchForks(t.getPath)
          .foreach(b => registerSnapshot(
            s"${norm(t.getName)}.branch_$b",
            graft.operators.SnapshotOps.branchForkDir(t.getPath, b)))
      }
  }

  /** Remove a branch fork's `t.branch_<name>` table binding (the fork
    * was consumed by fast_forward or dropped). */
  private def unbindBranch(name: String, br: String): Unit = {
    val bkey = s"${norm(name)}.branch_$br"
    tables.remove(bkey)
    snapshotDirs.remove(bkey)
    lastCommit.remove(bkey)
    spark.catalog.dropTempView(bkey.replace('.', '_'))
  }

  /** Recursive delete, guarded to paths under the session's declared
    * warehouse root — a mis-bound path can never delete user data. */
  private def deleteWarehouseTable(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir).normalize
    require(warehousePath.exists(wh =>
      p.startsWith(java.nio.file.Paths.get(wh).normalize)),
      s"not under the current warehouse: $dir")
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
      finally walk.close()
    }
  }

  /** CREATE TABLE (cols) — shared by the plain and PARTITIONED BY
    * forms. `ifNotExists` re-attaches an existing warehouse table
    * instead of erroring; plain CREATE over one fails loudly (durable
    * data must not be silently shadowed). */
  private def createPlain(name: String, colDefs: String,
      ifNotExists: Boolean = false): Unit = {
    warehouseDir(name).filter(d =>
      new java.io.File(d, "manifests").isDirectory).foreach { d =>
      if (ifNotExists) { registerSnapshot(name, d); return }
      throw new IllegalArgumentException(
        s"CREATE TABLE $name: already exists in warehouse ($d) — " +
          "DROP TABLE it or use IF NOT EXISTS")
    }
    createPlainAlways(name, colDefs)
  }

  private def createPlainAlways(name: String, colDefs: String): Unit = {
    // column DEFINITIONS are type syntax, not expressions — they skip
    // the dialect rewriter (FLOAT[100] is a type, not an index)
    val fixedSize = DuckRewriter.splitTop(colDefs).flatMap { d =>
      val parts = d.trim.split("\\s+", 2)
      parts.lift(1).filter(_.matches("(?i)\\w+\\s*\\[\\s*\\d+\\s*\\]"))
        .map(t => parts(0).toLowerCase -> t.replaceAll("\\s", "")
          .toUpperCase)
    }.toMap
    if (fixedSize.nonEmpty) declaredTypes(norm(name)) = fixedSize
    writeOrder.remove(norm(name)) // a new table starts layout-free
    pendingPartSpec.remove(norm(name))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      normalizeDdl(colDefs))
    register(name, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  /** Partition specs declared before the table has a snapshot dir
    * (CREATE … PARTITIONED BY, or ALTER on a lazy table) — committed
    * as the snapshot's first metadata the moment first DML
    * materializes it. */
  private val pendingPartSpec: mutable.Map[String,
    Seq[graft.operators.SnapshotOps.PartField]] = mutable.Map.empty

  private def flushPendingSpec(name: String, dir: String): Unit =
    pendingPartSpec.remove(norm(name)).foreach { spec =>
      graft.operators.SnapshotOps.commitSetPartitionSpec(dir, spec)
    }

  def table(name: String): DataFrame =
    tables.getOrElse(norm(name), spark.table(norm(name)))

  /** Snapshot of the registered catalog (for schema-only copies,
    * [[SqlValidator.schemaOnly]]). */
  def registeredTables: Seq[(String, DataFrame)] = tables.toSeq

  private def schemaOf: String => Option[Seq[String]] = t =>
    scala.util.Try(table(t).columns.toSeq).toOption

  // ---- information_schema (r16) -----------------------------------------
  // The reference's schema-introspection entry point builds its prompt by
  // executing `SELECT * FROM information_schema.tables` and
  // `SELECT * FROM information_schema.columns WHERE table_name = '<t>'`
  // verbatim (reference examples/utils.py:13-31). Spark exposes no
  // information_schema, so the Engine serves both as DuckDB-0.9-shaped
  // views over ITS OWN catalog (the same listing show_tables uses, plus
  // attached-catalog dotted names), rebuilt on every statement that
  // references them — DDL between statements is always visible. Types
  // render through the DESCRIBE mapping (declared DDL text when the
  // table was created by this engine, Summarize.duckTypeName otherwise,
  // DECIMAL with its declared precision/scale as DuckDB prints it).

  private val infoSchemaRe =
    """(?i)\binformation_schema\s*\.\s*(tables|columns)\b""".r

  /** DuckDB's DECIMAL rendering keeps (precision,scale); everything else
    * matches DESCRIBE's type names. */
  private def infoTypeName(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case d: org.apache.spark.sql.types.DecimalType =>
        s"DECIMAL(${d.precision},${d.scale})"
      case other => graft.operators.Summarize.duckTypeName(other)
    }

  private def refreshInformationSchema(): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val entries = tables.toSeq.sortBy(_._1).map { case (key, df) =>
      val (cat, name) = key.split("\\.", 2) match {
        case Array(c, t) => (c, t)
        case _ => ("memory", key)
      }
      (key, cat, "main", name, df)
    }
    def vc(n: String) = StructField(n, StringType)
    def ic(n: String) = StructField(n, IntegerType)
    val tSchema = StructType(Seq(
      vc("table_catalog"), vc("table_schema"), vc("table_name"),
      vc("table_type"), vc("self_referencing_column_name"),
      vc("reference_generation"), vc("user_defined_type_catalog"),
      vc("user_defined_type_schema"), vc("user_defined_type_name"),
      vc("is_insertable_into"), vc("is_typed"), vc("commit_action"),
      vc("TABLE_COMMENT")))
    val tRows = entries.map { case (_, c, s, t, _) =>
      Row(c, s, t, "BASE TABLE", null, null, null, null, null,
        "YES", "NO", null, null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(tRows, 1), tSchema)
      .createOrReplaceTempView("information_schema_tables")
    // the SQL-standard 45-column shape DuckDB serves; inapplicable
    // fields are null exactly where DuckDB leaves them null
    val cSchema = StructType(Seq(
      vc("table_catalog"), vc("table_schema"), vc("table_name"),
      vc("column_name"), ic("ordinal_position"), vc("column_default"),
      vc("is_nullable"), vc("data_type"),
      ic("character_maximum_length"), ic("character_octet_length"),
      ic("numeric_precision"), ic("numeric_precision_radix"),
      ic("numeric_scale"), ic("datetime_precision"), vc("interval_type"),
      ic("interval_precision"), vc("character_set_catalog"),
      vc("character_set_schema"), vc("character_set_name"),
      vc("collation_catalog"), vc("collation_schema"), vc("collation_name"),
      vc("domain_catalog"), vc("domain_schema"), vc("domain_name"),
      vc("udt_catalog"), vc("udt_schema"), vc("udt_name"),
      vc("scope_catalog"), vc("scope_schema"), vc("scope_name"),
      ic("maximum_cardinality"), vc("dtd_identifier"),
      vc("is_self_referencing"), vc("is_identity"),
      vc("identity_generation"), vc("identity_start"),
      vc("identity_increment"), vc("identity_maximum"),
      vc("identity_minimum"), vc("identity_cycle"), vc("is_generated"),
      vc("generation_expression"), vc("is_updatable"),
      vc("COLUMN_COMMENT")))
    // (numeric_precision, radix, scale) as DuckDB fills them for the
    // machine types; null for non-numerics
    def numeric(dt: DataType): (Any, Any, Any) = dt match {
      case ByteType => (8, 2, 0)
      case ShortType => (16, 2, 0)
      case IntegerType => (32, 2, 0)
      case LongType => (64, 2, 0)
      case FloatType => (24, 2, 0)
      case DoubleType => (53, 2, 0)
      case d: DecimalType => (d.precision, 10, d.scale)
      case _ => (null, null, null)
    }
    val cRows = entries.flatMap { case (key, c, s, t, df) =>
      val declared = declaredTypes.getOrElse(norm(key), Map.empty)
      val notNull = notNullCols.getOrElse(norm(key), Set.empty)
      df.schema.fields.zipWithIndex.map { case (f, i) =>
        val (p, r, sc) = numeric(f.dataType)
        Row(c, s, t, f.name, i + 1, null,
          if (f.nullable && !notNull(f.name.toLowerCase)) "YES" else "NO",
          declared.getOrElse(f.name.toLowerCase, infoTypeName(f.dataType)),
          null, null, p, r, sc, null, null, null, null, null, null,
          null, null, null, null, null, null, null, null, null, null,
          null, null, null, null, null, null, null, null, null, null,
          null, null, null, null, null, null)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(cRows, 1), cSchema)
      .createOrReplaceTempView("information_schema_columns")
  }

  // ---- command patterns (case-insensitive, dotall) -----------------------
  private val CreateTableAs =
    """(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.+)""".r
  private val CreateTable =
    """(?is)\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)\s*\((.+)\)\s*""".r
  private val CreateTablePart =
    ("""(?is)\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)""" +
      """\s*\((.+)\)\s+PARTITIONED\s+BY\s*\((.+)\)\s*""").r
  private val InsertValues =
    """(?is)\s*INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+)""".r
  private val InsertSelect =
    """(?is)\s*INSERT\s+INTO\s+([\w.]+)\s+(SELECT\b.+|FROM\b.+)""".r
  // UPDATE/DELETE/MERGE shapes are parsed over the token stream (see
  // `Stmt` below) — only the MERGE INSERT tail keeps a regex, applied
  // to a token-delimited slice where no string literal precedes it
  private val MergeInsertTail =
    """(?is)\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*""".r
  private val TruncateTable =
    """(?is)\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+)\s*""".r
  private val AlterAdd =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)\s+(.+?)\s*""".r
  private val AlterType =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+(.+?)\s*""".r
  private val AlterRename =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*""".r
  private val AlterDropCol =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*""".r
  private val AlterWriteOrder =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+WRITE\s+ORDERED\s+BY\s+""" +
      """([\w\s,]+?)(?:\s+INTO\s+(\d+)\s+FILES)?\s*""").r
  private val AlterPartition =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+PARTITION\s+SPEC\s*\((.*)\)\s*""".r
  private val DropTable =
    """(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*""".r
  private val AttachCmd =
    """(?is)\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'(?:\s+AS\s+(\w+))?\s*""".r
  private val SetCmd =
    """(?is)\s*(?:SET|PRAGMA)\s+(\w+)\s*=\s*'?([^';]*?)'?\s*""".r
  private val PragmaShowTables = """(?is)\s*PRAGMA\s+show_tables\s*""".r
  private val PragmaTableInfo =
    """(?is)\s*PRAGMA\s+table_info\s*\(\s*'?([\w.]+?)'?\s*\)\s*""".r
  private val PragmaDbList = """(?is)\s*PRAGMA\s+database_list\s*""".r
  private val PragmaSnapshots =
    """(?is)\s*PRAGMA\s+table_snapshots\s*\(\s*'?([\w.]+?)'?\s*\)\s*""".r
  private val PragmaMaintenance =
    """(?is)\s*PRAGMA\s+table_maintenance\s*\(\s*'?([\w.]+?)'?\s*\)\s*""".r
  private val PragmaTableChanges =
    ("""(?is)\s*PRAGMA\s+table_changes\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*(\d+)\s*,\s*(\d+)\s*\)\s*""").r
  private val PragmaRestore =
    ("""(?is)\s*PRAGMA\s+restore_table\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*(\d+)\s*\)\s*""").r
  private val PragmaExpire =
    ("""(?is)\s*PRAGMA\s+expire_snapshots\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*(\d+)\s*\)\s*""").r
  private val PragmaExpireTs =
    ("""(?is)\s*PRAGMA\s+expire_snapshots\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*(?:older_than\s*(?:=>|=)\s*)?TIMESTAMP\s*'([^']+)'\s*\)\s*""").r
  private val PragmaVacuum =
    """(?is)\s*PRAGMA\s+vacuum\s*\(\s*'?([\w.]+?)'?\s*\)\s*""".r
  private val PragmaTablePartitions =
    """(?is)\s*PRAGMA\s+table_partitions\s*\(\s*'?([\w.]+?)'?\s*\)\s*""".r
  // named refs (r15): tags pin versions, branches fork the chain
  private val PragmaCreateTag =
    ("""(?is)\s*PRAGMA\s+create_tag\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*'([\w-]+)'\s*(?:,\s*(\d+)\s*)?\)\s*""").r
  private val PragmaDropTag =
    ("""(?is)\s*PRAGMA\s+drop_tag\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*'([\w-]+)'\s*\)\s*""").r
  private val PragmaCreateBranch =
    ("""(?is)\s*PRAGMA\s+create_branch\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*'([\w-]+)'\s*\)\s*""").r
  private val PragmaDropBranch =
    ("""(?is)\s*PRAGMA\s+drop_branch\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*'([\w-]+)'\s*\)\s*""").r
  private val PragmaFastForward =
    ("""(?is)\s*PRAGMA\s+fast_forward\s*\(\s*'?([\w.]+?)'?\s*,""" +
      """\s*'([\w-]+)'\s*\)\s*""").r
  private val PragmaTableRefs =
    """(?is)\s*PRAGMA\s+table_refs\s*\(\s*'?([\w.]+?)'?\s*\)\s*""".r
  private val CallVersion =
    """(?is)\s*CALL\s+pragma_version\s*\(\s*\)\s*""".r
  private val SummarizeCmd = """(?is)\s*SUMMARIZE\s+([\w.]+)\s*""".r
  private val DescribeCmd = """(?is)\s*DESCRIBE\s+([\w.]+)\s*""".r

  /** Runs a multi-statement script (';'-separated, token-aware: a `;`
    * inside a string literal, quoted identifier, dollar string or
    * comment never splits); returns the last statement's result. */
  def executeScript(script: String): DataFrame = {
    val stmts = splitStatements(script).filter(_.trim.nonEmpty)
    stmts.foldLeft(empty())((_, s) => executeDuck(s))
  }

  private def splitStatements(s: String): Seq[String] = {
    import graft.dialect.SqlNormalizer
    val cuts = SqlNormalizer.lex(s).collect {
      case SqlNormalizer.Lexeme(SqlNormalizer.Op(";"), st, _) => st
    }
    val out = mutable.ArrayBuffer.empty[String]
    var pos = 0
    cuts.foreach { c => out += s.substring(pos, c); pos = c + 1 }
    out += s.substring(pos)
    out.filter(_.trim.nonEmpty).toSeq
  }

  // ---- token-stream statement front end ----------------------------------
  // Statement classification and DML clause splitting run over
  // SqlNormalizer's lexer (the one that already handles doubled-quote
  // escapes, dollar strings and nested comments), never over raw text:
  // a keyword can only be recognized as a Word TOKEN at paren depth 0,
  // so `WHERE`/`VALUES`/`;` inside a string literal or comment can
  // never split a statement, and clause text is sliced from the
  // original statement by lexeme span (byte-exact). The shape regexes
  // below then parse only name-region slices and comment-free text.

  private object Stmt {
    import graft.dialect.SqlNormalizer._

    def lexemes(sql: String): Vector[Lexeme] =
      lex(sql).filterNot(_.tok.isInstanceOf[Comment]).toVector

    /** Uppercased first word — the statement's verb. */
    def head(ls: Seq[Lexeme]): String = ls.headOption.map(_.tok).collect {
      case Word(w) => w.toUpperCase
    }.getOrElse("")

    /** Index of the first paren-depth-0 occurrence of the keyword
      * sequence at or after `from`; -1 when absent. CASE-aware: tokens
      * between a depth-0 CASE and its END are expression content (a
      * bare `CASE WHEN … THEN … END` in a SET value, MERGE clause
      * condition or ON condition), so clause keywords never match
      * inside that span — without this, parseMergeClauses would split
      * a WHEN-clause boundary on a CASE expression's own WHEN/THEN.
      * (A depth>0 CASE is invisible anyway: all its tokens sit inside
      * parens, where keywords already never match.) */
    def findKw(ls: Vector[Lexeme], from: Int, kws: String*): Int = {
      var depth = 0
      var caseDepth = 0
      var i = math.max(from, 0)
      while (i < ls.length) {
        ls(i).tok match {
          case Op("(") => depth += 1
          case Op(")") => depth -= 1
          case Word(w) if depth == 0 && w.equalsIgnoreCase("CASE") =>
            caseDepth += 1
          case Word(w) if depth == 0 && caseDepth > 0 &&
              w.equalsIgnoreCase("END") => caseDepth -= 1
          case Word(_) if depth == 0 && caseDepth == 0 &&
              kws.indices.forall(j => i + j < ls.length &&
                (ls(i + j).tok match {
                  case Word(x) => x.equalsIgnoreCase(kws(j))
                  case _ => false
                })) => return i
          case _ =>
        }
        i += 1
      }
      -1
    }

    /** Text between lexeme `a`'s end and lexeme `b`'s start (b = -1 ⇒
      * to end of statement). */
    def slice(sql: String, ls: Vector[Lexeme], a: Int, b: Int): String =
      sql.substring(ls(a).end, if (b < 0) sql.length else ls(b).start)
  }

  /** One parsed MERGE WHEN clause (r15 general grammar). `kind`: "m"
    * (MATCHED), "nt" (NOT MATCHED [BY TARGET]), "ns" (NOT MATCHED BY
    * SOURCE). `action`: "update" (payload = the SET list), "delete"
    * (no payload), "insert" (payload = the `(cols) VALUES (vals)`
    * tail). `cond` is the optional `AND <condition>` text. */
  private final case class MergeClause(kind: String,
      cond: Option[String], action: String, payload: String)

  private def parseMergeClauses(c: String,
      ls: Vector[graft.dialect.SqlNormalizer.Lexeme],
      firstWhen: Int): Seq[MergeClause] = {
    import graft.dialect.SqlNormalizer.Word
    def word(i: Int): Option[String] = ls.lift(i).map(_.tok).collect {
      case Word(x) => x.toUpperCase }
    // a clause start is the two-word head `WHEN MATCHED` / `WHEN NOT`
    // (belt-and-braces on top of findKw's CASE skip: a stray WHEN that
    // is not a clause head can never split a clause)
    def nextClause(from: Int): Int = {
      var j = Stmt.findKw(ls, from, "WHEN")
      while (j >= 0 && !word(j + 1).exists(w =>
          w == "MATCHED" || w == "NOT"))
        j = Stmt.findKw(ls, j + 1, "WHEN")
      j
    }
    val starts = Iterator.iterate(firstWhen)(i =>
      nextClause(i + 1)).takeWhile(_ >= 0).toVector
    starts.zipWithIndex.map { case (wi, n) =>
      val end = starts.lift(n + 1).getOrElse(-1)
      val (kind, after) =
        if (word(wi + 1).contains("MATCHED")) ("m", wi + 2)
        else if (word(wi + 1).contains("NOT") &&
            word(wi + 2).contains("MATCHED")) {
          if (word(wi + 3).contains("BY") &&
              word(wi + 4).contains("SOURCE")) ("ns", wi + 5)
          else if (word(wi + 3).contains("BY") &&
              word(wi + 4).contains("TARGET")) ("nt", wi + 5)
          else ("nt", wi + 3)
        } else throw new IllegalArgumentException(
          "MERGE: cannot parse WHEN clause")
      val thenIdx = Stmt.findKw(ls, after, "THEN")
      require(thenIdx > 0 && (end < 0 || thenIdx < end),
        "MERGE: WHEN clause without THEN")
      val condTxt =
        if (thenIdx == after) None
        else {
          require(word(after).contains("AND"),
            "MERGE: expected AND <condition> before THEN")
          Some(Stmt.slice(c, ls, after, thenIdx))
        }
      val cl = word(thenIdx + 1).getOrElse("") match {
        case "UPDATE" =>
          require(word(thenIdx + 2).contains("SET"),
            "MERGE: UPDATE without SET")
          MergeClause(kind, condTxt, "update",
            Stmt.slice(c, ls, thenIdx + 2, end))
        case "DELETE" => MergeClause(kind, condTxt, "delete", "")
        case "INSERT" => MergeClause(kind, condTxt, "insert",
          Stmt.slice(c, ls, thenIdx + 1, end))
        case a => throw new IllegalArgumentException(
          s"MERGE: unsupported action '$a'")
      }
      require(if (cl.kind == "nt") cl.action == "insert"
        else cl.action != "insert",
        s"MERGE: ${cl.action.toUpperCase} is not valid for this WHEN form")
      cl
    }
  }

  /** `name [AS alias]` in a token-delimited name region. */
  private val NameAlias =
    """(?is)\s*([\w.]+)(?:\s+AS\s+(\w+))?\s*""".r

  /** The literal key shapes an equality-delete commit can record
    * WITHOUT scanning: `col = lit` or `col IN (lit, …)` over the
    * lexer's token stream (string literals with commas, comments and
    * quoted identifiers all handled by the lexer, never by regex).
    * Returns (column, literal SQL texts) or None when the predicate
    * is any other shape. */
  private def parseEqKeys(pred: String): Option[(String, Seq[String])] = {
    import graft.dialect.SqlNormalizer.{Num, Op, Quoted, Word}
    val ls = Stmt.lexemes(pred)
    def lit(i: Int): Option[(String, Int)] = ls.lift(i).map(_.tok) match {
      case Some(Num(t)) => Some((t, i + 1))
      case Some(q: Quoted) if q.text.startsWith("'") => Some((q.text, i + 1))
      case Some(Op("-")) => ls.lift(i + 1).map(_.tok) match {
        case Some(Num(t)) => Some((s"-$t", i + 2))
        case _ => None
      }
      case _ => None
    }
    val col = ls.headOption.map(_.tok) match {
      case Some(Word(w)) => w
      case Some(q: Quoted) if q.text.startsWith("\"") =>
        q.text.drop(1).dropRight(1).replace("\"\"", "\"")
      case _ => return None
    }
    ls.lift(1).map(_.tok) match {
      case Some(Op("=")) =>
        lit(2).collect { case (t, n) if n == ls.length => (col, Seq(t)) }
      case Some(Word(in)) if in.equalsIgnoreCase("IN") =>
        if (!ls.lift(2).map(_.tok).contains(Op("("))) return None
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 3
        while (i < ls.length) {
          lit(i) match {
            case Some((t, n)) =>
              acc += t
              ls.lift(n).map(_.tok) match {
                case Some(Op(",")) => i = n + 1
                case Some(Op(")")) =>
                  return if (n + 1 == ls.length && acc.nonEmpty)
                    Some((col, acc.toSeq))
                  else None
                case _ => return None
              }
            case None => return None
          }
        }
        None
      case _ => None
    }
  }

  // ---- table-producing file functions & literals -------------------------
  private val readAutoRe =
    """(?is)read_(csv|json)_auto\s*\(""".r
  private val fileTableRe =
    """(?i)FROM\s+'([^']+\.(?:parquet|csv|json))'""".r
  private val usingSampleRe =
    ("""(?is)FROM\s+([\w.]+)\s+USING\s+SAMPLE\s+([\d.]+)\s*%""" +
      """\s*(?:\(\s*(\w+)\s*\))?""").r

  private def nextView(): String = { viewSeq += 1; s"__graft_src_$viewSeq" }

  /** Replaces read_csv_auto/read_json_auto calls, quoted-file tables and
    * USING SAMPLE clauses with registered temp views so the rest of the
    * statement is plain SQL. */
  private def bindFileTables(sql0: String): String = {
    var sql = sql0
    // read_xxx_auto(...)
    var m = readAutoRe.findFirstMatchIn(sql)
    while (m.isDefined) {
      val kind = m.get.group(1).toLowerCase
      val close = balancedEnd(sql, m.get.end)
      val args = sql.substring(m.get.end, close - 1)
      val argList = graft.dialect.DuckRewriter.splitTop(args)
      val path = resolvePath(argList.head.trim.stripPrefix("'").stripSuffix("'"))
      val columnsOpt = argList.map(_.trim)
        .find(_.toLowerCase.startsWith("columns"))
        .map(_.split("=", 2)(1).trim)
      val df = (kind, columnsOpt) match {
        case ("csv", None) =>
          spark.read.option("header", "true").option("inferSchema", "true")
            .csv(path)
        case ("csv", Some(colSpec)) =>
          spark.read.option("header", "true")
            .schema(parseColumnsSpec(colSpec)).csv(path)
        case ("json", _) => spark.read.json(path)
      }
      val v = nextView()
      df.createOrReplaceTempView(v)
      sql = sql.substring(0, m.get.start) + v + sql.substring(close)
      m = readAutoRe.findFirstMatchIn(sql)
    }
    // FROM 'file.parquet'
    sql = fileTableRe.replaceAllIn(sql, fm => {
      val path = resolvePath(fm.group(1))
      val df =
        if (path.endsWith(".parquet")) spark.read.parquet(path)
        else if (path.endsWith(".json")) spark.read.json(path)
        else spark.read.option("header", "true")
          .option("inferSchema", "true").csv(path)
      val v = nextView()
      df.createOrReplaceTempView(v)
      s"FROM $v"
    })
    // USING SAMPLE (reservoir = exact count, seeded; system/bernoulli =
    // Spark's Bernoulli sample — DuckDB's system sample is approximate too)
    sql = usingSampleRe.replaceAllIn(sql, sm => {
      val src = table(sm.group(1))
      val pct = sm.group(2).toDouble / 100.0
      val kind = Option(sm.group(3)).map(_.toLowerCase).getOrElse("system")
      val sampled = kind match {
        case "reservoir" =>
          val n = math.ceil(src.count() * pct).toInt
          src.orderBy(rand(42)).limit(n)
        case _ => src.sample(pct, 42L)
      }
      val v = nextView()
      sampled.createOrReplaceTempView(v)
      s"FROM $v"
    })
    sql
  }

  private def balancedEnd(s: String, start: Int): Int = {
    var depth = 1; var inStr = false; var i = start
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (c == '\'') inStr = !inStr
      else if (!inStr && c == '(') depth += 1
      else if (!inStr && c == ')') depth -= 1
      i += 1
    }
    i
  }

  /** `{'col': 'TYPE', ...}` → StructType (read_csv_auto columns= option). */
  private def parseColumnsSpec(spec: String): org.apache.spark.sql.types.StructType = {
    val inner = spec.trim.stripPrefix("{").stripSuffix("}")
    val fields = graft.dialect.DuckRewriter.splitTop(inner).map { f =>
      val Array(k, v) = f.split(":", 2)
      val name = k.trim.stripPrefix("'").stripSuffix("'")
      val typ = v.trim.stripPrefix("'").stripSuffix("'")
      org.apache.spark.sql.types.StructField(name,
        org.apache.spark.sql.types.StructType
          .fromDDL(s"x ${normalizeType(typ)}").fields(0).dataType)
    }
    org.apache.spark.sql.types.StructType(fields)
  }

  private val ShowDatabases = """(?is)\s*SHOW\s+DATABASES\s*""".r

  /** DuckDB memory-limit strings render as binary units ('20G' →
    * '18.6 GiB'). */
  private def normalizeSetting(key: String, value: String): String =
    key match {
      case "memory_limit" =>
        val re = """(?i)([\d.]+)\s*([KMGT])I?B?""".r
        value.trim match {
          case re(num, unit) =>
            val mult = Map("K" -> 1e3, "M" -> 1e6, "G" -> 1e9, "T" -> 1e12)(
              unit.toUpperCase)
            val gib = num.toDouble * mult / math.pow(2, 30)
            f"$gib%.1f GiB"
          case other => other
        }
      case "default_null_order" =>
        value.trim.toLowerCase.replace(' ', '_')
      case _ => value
    }

  /** Executes one DuckDB-dialect statement; returns the result (commands
    * return a small status/empty frame, like DuckDB). Comments are
    * stripped up front through the lexer (string literals untouched),
    * so no shape pattern below can be confused by keyword-bearing
    * comments anywhere in the statement. */
  def executeDuck(sqlText: String): DataFrame =
    executeStripped(graft.dialect.SqlNormalizer.stripComments(sqlText))

  private def executeStripped(sqlText: String): DataFrame = {
  // lexed at most once per statement: every token-stream guard and
  // case body below shares this (a large INSERT payload would
  // otherwise pay a full lex per guard on the dispatch path)
  lazy val lexed = Stmt.lexemes(sqlText)
  sqlText match {
    case CreateTableAs(orReplace, name, query) =>
      val n = norm(name)
      writeOrder.remove(n) // a new table starts layout-free
      pendingPartSpec.remove(n)
      val rows = executeDuck(query)
      // CREATE OR REPLACE over an EXISTING snapshot chain (session or
      // durable warehouse) is Iceberg's REPLACE TABLE: one committed
      // overwrite — history survives, the durable chain stays the
      // source of truth across sessions (a lazy rebind would show new
      // content this session and OLD content after reopen). Falls
      // back to the rebind when the chain carries a column mapping or
      // a partition spec the new schema can't serve (the first DML's
      // conflict guard still protects durable data on that path).
      val chain = snapshotDir(n).orElse(warehouseDir(n).filter(d =>
        new java.io.File(d, "manifests").isDirectory))
      val replaceable = orReplace != null && chain.exists { dir =>
        val v = graft.operators.SnapshotOps.currentVersion(dir)
        val cols = rows.columns.map(_.toLowerCase).toSet
        graft.operators.SnapshotOps.columnMapping(dir, v).isEmpty &&
          graft.operators.SnapshotOps.partitionSpec(dir, v)
            .forall(pf => cols(pf.col.toLowerCase)) &&
          snapshotable(rows)
      }
      if (replaceable) {
        val dir = chain.get
        lastCommit(n) = graft.operators.SnapshotOps
          .commitOverwrite(spark, dir, rows,
            statsCols = autoStatsCols(rows))
        registerSnapshot(name, dir)
      } else register(name, rows)
      empty()
    case CreateTablePart(ine, name, colDefs, fields) =>
      createPlain(name, colDefs, ifNotExists = ine != null)
      val spec = graft.operators.SnapshotOps.splitSpecFields(fields)
        .map(graft.operators.SnapshotOps.parsePartField)
      require(spec.nonEmpty, "PARTITIONED BY needs at least one field")
      val have = table(name).columns.map(_.toLowerCase).toSet
      val missing = spec.map(_.col).filterNot(c => have(c.toLowerCase))
      require(missing.isEmpty,
        s"PARTITIONED BY: unknown column(s) ${missing.mkString(", ")}")
      // the spec seeds the snapshot on first DML (flushPendingSpec):
      // version 1 is then the metadata-only spec commit
      pendingPartSpec(norm(name)) = spec
      empty()
    case CreateTable(ine, name, colDefs) =>
      createPlain(name, colDefs, ifNotExists = ine != null); empty()
    case InsertValues(name, colsOpt, values) =>
      val target = table(name)
      val cols = Option(colsOpt).map(_.split(",").map(_.trim.toLowerCase))
        .getOrElse(target.columns.map(_.toLowerCase))
      val rows = spark.sql(
        s"SELECT * FROM (VALUES ${DuckRewriter.rewrite(values, schemaOf)})")
        .toDF(cols.toIndexedSeq: _*)
      // align: missing columns → typed NULL; cast to target types
      val aligned = target.schema.fields.map { f: StructField =>
        if (cols.contains(f.name.toLowerCase))
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      appendRows(name, target, rows.select(aligned.toIndexedSeq: _*))
      empty()
    case InsertSelect(name, query) =>
      val target = table(name)
      val rows = executeDuck(query).toDF(target.columns.toIndexedSeq: _*)
      val casted = target.schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name))
      appendRows(name, target, rows.select(casted.toIndexedSeq: _*))
      empty()
    case TruncateTable(name) =>
      // TRUNCATE is a MUTATION, not a rebind: on a snapshot-backed
      // table it lands as ONE commitOverwrite of the empty frame, so
      // history survives (VERSION AS OF the pre-truncate version
      // still reads) and the audit trail shows the truncation —
      // Iceberg's TRUNCATE semantics, not parquet-file deletion
      val target = table(name)
      ensureSnapshot(name) match {
        case Some(dir) =>
          lastCommit(norm(name)) = graft.operators.SnapshotOps
            .commitOverwrite(spark, dir, target.limit(0))
          registerSnapshot(name, dir)
        case None => // schema parquet can't carry, or empty: rebind
          register(name, target.limit(0))
      }
      empty()
    case c if Stmt.head(lexed) == "UPDATE" &&
        Stmt.findKw(lexed, 1, "SET") > 0 =>
      // clause splitting over the TOKEN stream: SET/WHERE recognized
      // only as depth-0 word tokens, so a ' WHERE ' or ' SET ' inside
      // a string literal can never split the statement
      val ls = lexed
      val setIdx = Stmt.findKw(ls, 1, "SET")
      val whereIdx = Stmt.findKw(ls, setIdx + 1, "WHERE")
      val name = Stmt.slice(c, ls, 0, setIdx).trim
      require(name.matches("""[\w."]+"""), s"UPDATE: cannot parse")
      val setList = Stmt.slice(c, ls, setIdx, whereIdx)
      val whereOpt =
        if (whereIdx < 0) null else Stmt.slice(c, ls, whereIdx, -1)
      val target = table(name)
      val cond = Option(whereOpt)
        .map(w => expr(DuckRewriter.rewrite(w, schemaOf))).getOrElse(lit(true))
      val sets = DuckRewriter.splitTop(setList).map { a =>
        val Array(c, v) = a.split("=", 2)
        norm(c.trim) -> expr(DuckRewriter.rewrite(v.trim, schemaOf))
      }.toMap
      // ONE select against the original relation: every SET expression
      // and the WHERE predicate see PRE-update values (sequential
      // withColumn would leak updated columns into later assignments —
      // UPDATE t SET a = b, b = a must swap)
      def applySets(in: DataFrame): DataFrame =
        in.select(target.schema.fields.map { f =>
          sets.get(f.name.toLowerCase) match {
            case Some(v) => v.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
      ensureSnapshot(name) match {
        case Some(dir) =>
          // committed file-granular COW: files without a matching row
          // carry forward untouched; commitRewrite applies the SETs to
          // only cond-true rows (its non-matching side rides through).
          // `SET update_mode='mor'` switches to the merge-on-read
          // shape: matched positions delete, updated rows append, no
          // data file rewritten.
          val mor = spark.conf
            .getOption("graft.setting.update_mode").contains("mor")
          lastCommit(norm(name)) =
            if (mor) graft.operators.SnapshotOps
              .commitUpdateMoR(spark, dir, cond, applySets,
                candidates = Option(whereOpt).map(w =>
                  dmlCandidates(name, dir, target.schema, w)).orNull)
            else graft.operators.SnapshotOps
              .commitRewrite(spark, dir, cond, applySets,
                // manifest-pruned touched-file discovery (r14): scan
                // only files whose bounds may match the WHERE
                candidates = Option(whereOpt).map(w =>
                  dmlCandidates(name, dir, target.schema, w)).orNull)
          registerSnapshot(name, dir)
        case None =>
          register(name, target.select(target.schema.fields.map { f =>
            sets.get(f.name.toLowerCase) match {
              case Some(v) => when(cond, v.cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
              case None => col(f.name)
            }
          }.toIndexedSeq: _*))
      }
      empty()
    case c if Stmt.head(lexed) == "DELETE" &&
        Stmt.findKw(lexed, 0, "DELETE", "FROM") == 0 =>
      val ls = lexed
      val whereIdx = Stmt.findKw(ls, 2, "WHERE")
      val name = Stmt.slice(c, ls, 1, whereIdx).trim
      require(name.matches("""[\w."]+"""), s"DELETE: cannot parse")
      val whereOpt =
        if (whereIdx < 0) null else Stmt.slice(c, ls, whereIdx, -1)
      val target = table(name)
      // delete only rows where the predicate is TRUE: a NULL predicate
      // keeps the row (SQL three-valued semantics; `!NULL` is NULL and
      // `.where` would have dropped it)
      val hit = Option(whereOpt)
        .map(w => expr(DuckRewriter.rewrite(w, schemaOf)))
        .getOrElse(lit(true))
      ensureSnapshot(name) match {
        case Some(dir) =>
          // `SET delete_mode = 'mor'` routes through the deletion-
          // vector commit: O(matched rows) of position metadata, zero
          // data files rewritten. `= 'eq'` routes through the
          // EQUALITY-delete commit: the key literals themselves are
          // the commit — zero data files even SCANNED — so the
          // predicate must be literal-key-shaped (`col = lit` or
          // `col IN (lits)`); anything else fails loudly with the
          // contract rather than silently falling back to a scan.
          // Default stays copy-on-write. All modes keep
          // NULL-predicate rows (commitDelete's .where(cond) deletes
          // only TRUE matches; commitRewrite's survivor side is
          // !coalesce(cond, false); eq keys are non-NULL literals) —
          // the three-valued rule.
          val mode = spark.conf
            .getOption("graft.setting.delete_mode").getOrElse("cow")
          lastCommit(norm(name)) = mode match {
            case "mor" => graft.operators.SnapshotOps
              .commitDelete(spark, dir, hit,
                candidates = Option(whereOpt).map(w =>
                  dmlCandidates(name, dir, target.schema, w)).orNull)
            case "eq" =>
              val (kcol, lits) = parseEqKeys(Option(whereOpt)
                .getOrElse("")).getOrElse(
                throw new IllegalArgumentException(
                  "delete_mode='eq': an equality delete records key " +
                    "literals without scanning, so the predicate must " +
                    "be `col = lit` or `col IN (lit, ...)`; got: " +
                    Option(whereOpt).getOrElse("<none>").trim))
              val field = target.schema.fields
                .find(_.name.equalsIgnoreCase(kcol)).getOrElse(
                  throw new IllegalArgumentException(
                    s"delete_mode='eq': unknown key column '$kcol'"))
              val keyDf = spark.sql(lits.map(v =>
                s"SELECT CAST($v AS ${field.dataType.sql}) AS " +
                  s"`${field.name}`").mkString(" UNION ALL "))
              graft.operators.SnapshotOps
                .commitDeleteByKey(spark, dir, keyDf)
            case _ => graft.operators.SnapshotOps
              .commitRewrite(spark, dir, hit, _.limit(0),
                // manifest-pruned touched-file discovery (r14)
                candidates = Option(whereOpt).map(w =>
                  dmlCandidates(name, dir, target.schema, w)).orNull)
          }
          registerSnapshot(name, dir)
        case None =>
          register(name, target.where(!coalesce(hit, lit(false))))
      }
      empty()
    case c if """(?is)\s*MERGE\b.*""".r.matches(c) =>
      // MERGE INTO t [a] USING s [b] ON cond, then any number of
      //   WHEN MATCHED [AND c] THEN UPDATE SET … | DELETE
      //   WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT (cols) VALUES (…)
      //   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE
      // — the full SQL/Delta-parity grammar (r15). Per row the FIRST
      // clause (statement order) whose condition holds wins; a target
      // row winning no clause carries forward, a source row winning no
      // clause drops. Contract (standard MERGE practice): at most one
      // source row matches a target row — a fan-out source would
      // duplicate target rows, as it does in any engine without the
      // cardinality check.
      //
      // Routing: a key-shaped clause set without BY SOURCE — the
      // upsert, the CDC delete-apply, conditional matched clauses —
      // commits as ONE key-pruned merge whose clauses resolve inside
      // the commit attempt and whose cost tracks the source batch (the
      // key route below); a BY SOURCE clause, a non-key ON or a
      // declined key route takes ONE atomic full commitRewrite on a
      // snapshot-backed table (mirror-sync is O(table) in any engine),
      // and a lazy table rematerializes. Every job the statement
      // starts is labelled `MERGE <table>: <phase>`.
      val ls = Stmt.lexemes(c)
      val usingIdx = Stmt.findKw(ls, 2, "USING")
      val onIdx = Stmt.findKw(ls, usingIdx + 1, "ON")
      val firstWhen = Stmt.findKw(ls, onIdx + 1, "WHEN")
      require(usingIdx > 0 && onIdx > 0 && firstWhen > 0,
        "MERGE: cannot parse")
      val (tName, tA) = Stmt.slice(c, ls, 1, usingIdx) match {
        case NameAlias(n, a) => (n, Option(a).getOrElse(n))
        case _ => throw new IllegalArgumentException("MERGE: bad target")
      }
      val (sName, sA) = Stmt.slice(c, ls, usingIdx, onIdx) match {
        case NameAlias(n, a) => (n, Option(a).getOrElse(n))
        case _ => throw new IllegalArgumentException("MERGE: bad source")
      }
      // ON condition runs to the first WHEN keyword; nested parens
      // and string literals inside it are invisible to findKw
      val cond = Stmt.slice(c, ls, onIdx, firstWhen)
      val clauses = parseMergeClauses(c, ls, firstWhen)
      require(clauses.nonEmpty, "MERGE: no WHEN clause")
      val tgt = table(tName)
      val src = table(sName)
      val condE = expr(DuckRewriter.rewrite(cond, schemaOf))
      // SET targets are target columns — strip an optional alias qualifier
      def parseSets(txt: String): Map[String, org.apache.spark.sql.Column] =
        DuckRewriter.splitTop(txt).map { a =>
          val Array(k, v) = a.split("=", 2)
          norm(k.trim.stripPrefix(s"$tA.")) ->
            expr(DuckRewriter.rewrite(v.trim, schemaOf))
        }.toMap
      def clauseCond(txt: Option[String]): org.apache.spark.sql.Column =
        txt.map(t => expr(DuckRewriter.rewrite(t, schemaOf)))
          .getOrElse(lit(true))
      // INSERT tail: (cols) VALUES (vals) — paren groups by lexeme;
      // the value of each named target column
      def insertValues(
          cl: MergeClause): Map[String, org.apache.spark.sql.Column] = {
        val (insCols, insVals) = cl.payload match {
          case MergeInsertTail(ic, iv) => (ic, iv)
          case _ => throw new IllegalArgumentException("MERGE: bad INSERT")
        }
        insCols.split(",").map(n => norm(n.trim.stripPrefix(s"$tA.")))
          .zip(DuckRewriter.splitTop(insVals)
            .map(v => expr(DuckRewriter.rewrite(v.trim, schemaOf))))
          .toMap
      }
      // inserted rows align to the target schema (absent columns null)
      def insertRowsFor(cl: MergeClause, from: DataFrame): DataFrame = {
        val vals = insertValues(cl)
        from.select(tgt.schema.fields.map { f =>
          vals.get(f.name.toLowerCase).fold(lit(null).cast(f.dataType))(
            _.cast(f.dataType)).as(f.name)
        }.toIndexedSeq: _*)
      }
      // row-level evaluator shared by the conditional/lazy paths:
      // `__act` = the winning clause index (first-true in statement
      // order, evaluated once per row); DELETE winners filter out,
      // UPDATE winners rewrite their SET columns, rows winning
      // nothing carry forward; the source side unions the first-true
      // INSERT clause's aligned rows
      def fullContent(base: DataFrame): DataFrame = {
        val j = base.alias(tA)
          .join(src.withColumn("__m", lit(true)).alias(sA), condE, "left")
        val tgtSide = clauses.zipWithIndex.filter(_._1.kind != "nt")
        val act = tgtSide.foldLeft(when(lit(false), -1)) {
          case (acc, (cl, i)) =>
            val arm = (if (cl.kind == "m") coalesce(col("__m"), lit(false))
              else col("__m").isNull) && clauseCond(cl.cond)
            acc.when(arm, i)
        }.otherwise(-1)
        val withAct = j.withColumn("__act", act)
        val deleteIdxs = tgtSide.collect {
          case (cl, i) if cl.action == "delete" => i }
        val kept = if (deleteIdxs.isEmpty) withAct
          else withAct.where(!col("__act").isin(deleteIdxs: _*))
        val updates = tgtSide.collect {
          case (cl, i) if cl.action == "update" => (i, parseSets(cl.payload)) }
        val keptRows = kept.select(tgt.schema.fields.map { f =>
          val carried: org.apache.spark.sql.Column = col(s"$tA.${f.name}")
          val relevant = updates.filter(_._2.contains(f.name.toLowerCase))
          val e =
            if (relevant.isEmpty) carried
            else relevant.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
              case (acc, (i, s)) =>
                val v = s(f.name.toLowerCase).cast(f.dataType)
                Some(acc.fold(when(col("__act") === i, v))(
                  _.when(col("__act") === i, v)))
            }.get.otherwise(carried)
          e.as(f.name)
        }.toIndexedSeq: _*)
        val ntSide = clauses.zipWithIndex.filter(_._1.kind == "nt")
        if (ntSide.isEmpty) keptRows
        else {
          val anti = src.alias(sA).join(base.alias(tA), condE, "left_anti")
          val iact = ntSide.foldLeft(when(lit(false), -1)) {
            case (acc, (cl, i)) => acc.when(clauseCond(cl.cond), i)
          }.otherwise(-1)
          val withI = anti.withColumn("__iact", iact)
          ntSide.map { case (cl, i) =>
            insertRowsFor(cl, withI.where(col("__iact") === i))
          }.foldLeft(keptRows)(_.unionByName(_))
        }
      }
      // Key route — a clause set WITHOUT a BY SOURCE arm whose ON is a
      // pure equi-AND of target.col = source.col, and whose SETs leave
      // the key columns alone, commits as ONE key-pruned merge
      // (SnapshotOps.commitMergeWith). Without BY SOURCE the outcome is
      // confined to rows holding SOURCE keys — unmatched target rows
      // carry forward untouched — so the commit rewrites only the files
      // holding those keys, whatever the clauses' conditions. The
      // clauses resolve INSIDE the commit attempt, against the base it
      // publishes over (a retry re-resolves on the new base): one left
      // join of the source with the key-pruned base, where per matched
      // row the FIRST true MATCHED clause (statement order) wins —
      // UPDATE winners write their replacement, DELETE winners delete,
      // no-winner rows carry — and per unmatched source row the first
      // true NOT MATCHED clause's INSERT writes. The attempt declines
      // when a key it changes has a duplicate target row or a duplicate
      // source row (a fan-out merge is order-dependent in any engine);
      // the statement then takes the full rewrite below, as does any
      // BY SOURCE arm — whose outcome is a function of the target rows
      // the source does NOT hold.
      val mIdx = clauses.zipWithIndex.filter(_._1.kind == "m")
      val ntIdx = clauses.zipWithIndex.filter(_._1.kind == "nt")
      val noBySource = clauses.forall(_.kind != "ns")
      val allSets = mIdx.collect { case (cl, i) if cl.action == "update" =>
        (i, parseSets(cl.payload)) }
      // (target key, source key) per ON conjunct
      val keyPairs: Option[Seq[(String, String)]] = {
        val eq = """(?is)\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*""".r
        val conj = cond.split("(?i)\\s+AND\\s+").toSeq.map {
          case eq(a1, c1, a2, c2)
            if a1.equalsIgnoreCase(tA) && a2.equalsIgnoreCase(sA) =>
              Some(norm(c1) -> c2)
          case eq(a1, c1, a2, c2)
            if a1.equalsIgnoreCase(sA) && a2.equalsIgnoreCase(tA) =>
              Some(norm(c2) -> c1)
          case _ => None
        }
        if (conj.forall(_.isDefined)) Some(conj.flatten) else None
      }
      val label = s"MERGE ${norm(tName)}"
      def phase[T](p: String)(body: => T): T =
        graft.operators.SnapshotOps.withJobLabel(spark, s"$label: $p")(body)
      // the resolver: the clause outcome of every source row against
      // the attempt's base (logical columns + __file), in the shape
      // SnapshotOps.commitMergeWith documents
      def resolveKeyed(base: DataFrame): DataFrame = {
        import graft.operators.SnapshotOps.{MergeCarry, MergeDelete,
          MergeKind, MergeWrite}
        val fields = base.schema.fields.filter(_.name != "__file")
        // NOT MATCHED clauses see the source alone (a name both sides
        // carry means the source's, as in SQL): their winner and their
        // per-column values evaluate before the join
        val ins = ntIdx.map { case (cl, i) => (i, insertValues(cl)) }
        val iact = ntIdx.foldLeft(when(lit(false), -1)) {
          case (acc, (cl, i)) => acc.when(clauseCond(cl.cond), i)
        }.otherwise(-1)
        val srcIns = src.alias(sA).select(col("*") +: iact.as("__iact") +:
          fields.toSeq.map { f =>
            ins.filter(_._2.contains(f.name.toLowerCase))
              .foldLeft(lit(null).cast(f.dataType)) { case (acc, (i, vs)) =>
                when(col("__iact") === i,
                  vs(f.name.toLowerCase).cast(f.dataType)).otherwise(acc)
              }.as(s"__ins_${f.name}")
          }: _*)
        val j = srcIns.alias(sA).join(base.alias(tA), condE, "left_outer")
        val matched = col(s"$tA.__file").isNotNull
        // the winning clause, evaluated once per row
        val act = mIdx.foldLeft(when(lit(false), -1)) {
          case (acc, (cl, i)) => acc.when(matched && clauseCond(cl.cond), i)
        }.when(!matched, col("__iact")).otherwise(-1)
        val withAct = j.withColumn("__act", act)
        val writeIdxs = allSets.map(_._1) ++ ntIdx.map(_._2)
        val delIdxs = mIdx.collect {
          case (cl, i) if cl.action == "delete" => i }
        val kind = when(col("__act").isin(writeIdxs: _*), MergeWrite)
          .when(col("__act").isin(delIdxs: _*), MergeDelete)
          .when(matched, MergeCarry)
        withAct.select(fields.toSeq.map { f =>
          val carried = when(matched, col(s"$tA.${f.name}"))
            .otherwise(col(s"__ins_${f.name}"))
          allSets.filter(_._2.contains(f.name.toLowerCase))
            .foldLeft(carried) { case (acc, (i, s)) =>
              when(col("__act") === i,
                s(f.name.toLowerCase).cast(f.dataType)).otherwise(acc)
            }.as(f.name)
        } ++ Seq(col(s"$tA.__file").as("__file"), kind.as(MergeKind)): _*)
          .where(col(MergeKind).isNotNull)
      }
      val routed = (if (noBySource) keyPairs else None).filterNot(ks =>
        allSets.exists(_._2.keys.exists(ks.map(_._1).contains)))
        .flatMap { ks =>
          phase("commit")(ensureSnapshot(tName)).flatMap { dir =>
            val probe = src.select(ks.map { case (t, s) => col(s).as(t) }: _*)
            graft.operators.SnapshotOps.commitMergeWith(spark, dir,
              ks.map(_._1), probe, label)(resolveKeyed).map { c =>
              lastCommit(norm(tName)) = c
              phase("commit")(registerSnapshot(tName, dir))
            }
          }
        }
      if (routed.isEmpty) phase("commit")(ensureSnapshot(tName)) match {
        // BY SOURCE (or non-key-shaped / a declined key route):
        // per-target-row outcome over the whole table — one atomic full
        // rewrite keeps the committed lifecycle (time travel spans the
        // merge); the O(table) cost is inherent to row-conditional
        // mirror-sync in any engine
        case Some(dir) =>
          lastCommit(norm(tName)) = phase("rewrite")(graft.operators
            .SnapshotOps.commitRewrite(spark, dir, lit(true), fullContent))
          phase("commit")(registerSnapshot(tName, dir))
        case None => register(tName, fullContent(tgt))
      }
      empty()
    case AlterAdd(name, colName, typ) =>
      register(name, table(name).withColumn(colName,
        lit(null).cast(normalizeType(typ)))); empty()
    case AlterType(name, colName, typ) =>
      register(name, table(name).withColumn(colName,
        col(colName).cast(normalizeType(typ)))); empty()
    // RENAME/DROP COLUMN: zero-rewrite column-mapping commits at the
    // snapshot layer (SnapshotOps.commitRenameColumn/commitDropColumn)
    // when the table is snapshot-backed — data files untouched, time
    // travel to the pre-evolution shape preserved; lazy tables take
    // the plain plan-level rename/drop
    case AlterWriteOrder(name, colsS, nS) =>
      val cols = colsS.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val have = table(name).columns.map(_.toLowerCase).toSet
      val missing = cols.filterNot(c => have(c.toLowerCase))
      require(missing.isEmpty,
        s"WRITE ORDERED BY: unknown column(s) ${missing.mkString(", ")}")
      writeOrder(norm(name)) =
        (cols, Option(nS).map(_.toInt).getOrElse(8))
      empty()
    // ALTER … SET PARTITION SPEC (…): spec EVOLUTION — a
    // metadata-only commit on a snapshot-backed table (new files
    // only; nothing rewritten), a pending declaration otherwise.
    // An empty field list un-partitions.
    case AlterPartition(name, fields) =>
      import graft.operators.SnapshotOps
      val spec = SnapshotOps.splitSpecFields(fields)
        .map(SnapshotOps.parsePartField)
      val have = table(name).columns.map(_.toLowerCase).toSet
      val missing = spec.map(_.col).filterNot(c => have(c.toLowerCase))
      require(missing.isEmpty,
        s"SET PARTITION SPEC: unknown column(s) ${missing.mkString(", ")}")
      snapshotDirs.get(norm(name)) match {
        case Some(dir) =>
          lastCommit(norm(name)) =
            SnapshotOps.commitSetPartitionSpec(dir, spec)
          registerSnapshot(name, dir)
        case None =>
          if (spec.isEmpty) pendingPartSpec.remove(norm(name))
          else pendingPartSpec(norm(name)) = spec
      }
      empty()
    case AlterRename(name, from, to) =>
      ensureSnapshot(name) match {
        case Some(dir) =>
          lastCommit(norm(name)) = graft.operators.SnapshotOps
            .commitRenameColumn(spark, dir, from, to)
          registerSnapshot(name, dir)
        case None =>
          register(name, table(name).withColumnRenamed(from, to))
      }
      empty()
    case AlterDropCol(name, colName) =>
      ensureSnapshot(name) match {
        case Some(dir) =>
          lastCommit(norm(name)) = graft.operators.SnapshotOps
            .commitDropColumn(spark, dir, colName)
          registerSnapshot(name, dir)
        case None => register(name, table(name).drop(colName))
      }
      empty()
    case DropTable(name) =>
      tables.remove(norm(name))
      // the snapshot binding dies with the table: a later PRAGMA
      // table_snapshots / re-CREATE must not resurrect the history.
      // The FILES must outlive the statement, though — a live lazy
      // binding may still derive from them (CTAS from this table
      // reads its snapshot parquet lazily), so the dir is RETIRED
      // for [[close]], exactly like a re-register supersession
      snapshotDirs.remove(norm(name)).foreach { d =>
        // a DURABLE table's DROP is destructive (the DuckDB contract);
        // scratch dirs are only retired — live lazy frames may still
        // derive from them until close()
        if (warehouseDir(name).contains(d)) deleteWarehouseTable(d)
        else retiredDirs += d
      }
      lastCommit.remove(norm(name))
      // declared layout and pruning observables die with the table —
      // a recreated table must not inherit another table's sort order
      writeOrder.remove(norm(name))
      pendingPartSpec.remove(norm(name))
      lastPrune.remove(norm(name))
      lastMetaCount.remove(norm(name))
      maintenanceFlags.remove(norm(name))
      // dotted (attached-catalog) names are backed by an underscored
      // temp view (see register) — drop the view that actually exists
      spark.catalog.dropTempView(norm(name).replace('.', '_')); empty()
    case c if """(?is)\A\s*COPY\b.*""".r.matches(c) => parseCopy(c)
    case AttachCmd(path, aliasOpt) =>
      val alias = Option(aliasOpt).getOrElse(
        new java.io.File(path).getName.replaceAll("\\.[^.]*$", ""))
      val dir = new java.io.File(path)
      val names =
        if (dir.isDirectory)
          dir.listFiles.filter(_.getName.endsWith(".parquet")).toSeq
            .map { f =>
              val t = f.getName.stripSuffix(".parquet")
              register(s"$alias.$t", spark.read.parquet(f.getPath))
              t
            }
        else Seq.empty
      attached(alias) = names
      empty()
    case PragmaShowTables() =>
      import spark.implicits._
      tables.keys.filterNot(_.contains('.')).toSeq.sorted.toDF("name")
    case PragmaSnapshots(name) =>
      // queryable table HISTORY (Iceberg's snapshots/Delta's DESCRIBE
      // HISTORY): one row per committed version from the manifest
      // chain alone — version, commit millis, data files, data rows,
      // DV positions, visible rows (data − DV)
      import spark.implicits._
      val dir = historyDir("table_snapshots", name)
      import graft.operators.SnapshotOps
      // surviving versions only: expire_snapshots may have dropped a
      // prefix of the chain
      SnapshotOps.availableVersions(dir).map { v =>
        val files = SnapshotOps.snapshotFiles(dir, v).size.toLong
        val (dvFiles, dvRows) = SnapshotOps.deleteStats(dir, v)
        val visible = SnapshotOps.snapshotRowCount(dir, v)
        (v.toLong, SnapshotOps.snapshotTimestamp(dir, v).getOrElse(-1L),
          files, dvFiles.toLong, dvRows,
          visible.map(_ + dvRows), visible)
      }.toSeq.toDF("version", "committed_ms", "data_files", "dv_files",
        "dv_rows", "data_rows", "visible_rows")
    case PragmaTableChanges(name, fromS, toS) =>
      // the CDC read at the SQL surface (Delta's table_changes): one
      // row per net row-level change, per version — version v's rows
      // are snapshotDiff(v-1, v) tagged with _commit_version = v.
      // Cost scales with the CHANGED units of each span (unit-raw
      // cancellation), never the table, so a 100 TB table's change
      // feed reads only its churn. Bounds are validated against the
      // manifest chain up front — a half-open read past the current
      // version must fail loudly, not return a silent partial feed.
      import graft.operators.SnapshotOps
      val dir = historyDir("table_changes", name)
      val (from, to) = (fromS.toInt, toS.toInt)
      val cur = SnapshotOps.currentVersion(dir)
      require(from >= 1 && from <= to && to <= cur,
        s"table_changes: span [$from, $to] outside committed " +
          s"versions [1, $cur] of '$name'")
      // the span needs every manifest in [from-1, to] (version v's
      // changes diff against v-1) — a retention-expired prefix must
      // fail validated, not as a NoSuchFileException mid-read
      val avail = SnapshotOps.availableVersions(dir).toSet
      val missing = ((from - 1) to to).filter(v => v > 0 && !avail(v))
      require(missing.isEmpty,
        s"table_changes: span [$from, $to] of '$name' needs expired " +
          s"versions ${missing.mkString(",")} (dropped by retention) — " +
          "narrow the span to the surviving history")
      val spans = (from to to).map { v =>
        // presentAs = the REQUESTED end version: every span shares one
        // logical shape across column renames/drops inside the span
        // (Delta CDF's latest-schema convention); pre-evolution spans
        // may lack later-added columns — restored as null by the
        // allowMissingColumns unions below
        SnapshotOps.snapshotDiff(spark, dir, v - 1, v, presentAs = to)
          .withColumn("_commit_version", lit(v.toLong))
          // Delta CDF parity: every change row carries its commit's
          // wall-clock stamp (the manifest's _ts meta), so a consumer
          // can window the feed by time without a version->time join
          .withColumn("_commit_timestamp",
            lit(SnapshotOps.snapshotTimestamp(dir, v).getOrElse(-1L)))
      }
      // bound the PLAN, not just the data: one per-version diff is an
      // EXCEPT-ALL-shaped subplan, and unioning a 100-version span
      // into a single tree makes Catalyst analysis cost dominate long
      // before any byte is read. Groups of 16 materialize via
      // localCheckpoint (each group's diffs are changed-units-only
      // reads — span-sized, not table-sized), so plan depth stays
      // bounded at ~16 subplans regardless of span length; short
      // spans keep the original single lazy plan.
      val grouped = spans.grouped(16).map { g =>
        val u = g.reduce(_.unionByName(_, allowMissingColumns = true))
        if (spans.size > 16) u.localCheckpoint() else u
      }.toSeq
      val feed = grouped.reduce(_.unionByName(_,
          allowMissingColumns = true))
        .where(col("change_type") =!= lit(""))
      // long spans: the per-group checkpoints would otherwise pin
      // span-sized executor storage for as long as the returned frame
      // lives — materialize the final feed once (it's what the caller
      // holds anyway) and release the intermediates eagerly
      if (spans.size <= 16) feed
      else {
        val out = feed.localCheckpoint()
        grouped.foreach(SnapshotOps.releaseCheckpoint)
        out
      }
    case PragmaRestore(name, verS) =>
      // Delta RESTORE at the SQL surface: rewind the table's CONTENT
      // to a committed version as a NEW commit (pure manifest
      // metadata — commitRestore writes no data file), preserving
      // history and rebinding the table to the restored snapshot
      import graft.operators.SnapshotOps
      val dir = historyDir("restore_table", name)
      lastCommit(norm(name)) = SnapshotOps.commitRestore(dir, verS.toInt)
      registerSnapshot(name, dir)
      empty()
    case PragmaExpire(name, keepS) =>
      // Iceberg expireSnapshots / Delta retention at the SQL surface:
      // drop all but the last N versions' manifests, then GC data/DV/
      // eq-delete/group files no retained manifest references. The
      // Engine executes statements sequentially and owns its tables,
      // so the in-flight-writer grace window is 0 — files orphaned by
      // the expired versions reclaim immediately. Time travel to an
      // expired version is gone by design; table_snapshots and
      // AS-OF resolution enumerate only surviving manifests.
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("expire_snapshots", name)
      val (m, f) = SnapshotOps.vacuum(dir, keepVersions = keepS.toInt,
        graceMs = 0L)
      Seq((m.toLong, f.toLong)).toDF("manifests_dropped", "files_deleted")
    case PragmaExpireTs(name, ts) =>
      // the timestamp-horizon form (Iceberg expire_snapshots
      // older_than / Delta retention): versions committed strictly
      // before the horizon expire, resolved against the SAME `_ts`
      // stamps as TIMESTAMP AS OF — reads past the horizon then fail
      // loudly, never silently re-resolve
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("expire_snapshots", name)
      val zone = java.time.ZoneId.of(
        spark.conf.get("spark.sql.session.timeZone",
          java.util.TimeZone.getDefault.getID))
      val horizon = parseLocalInstant(ts, zone).getOrElse(
        throw new IllegalArgumentException(
          s"expire_snapshots: cannot parse timestamp '$ts'"))
        .toEpochMilli
      val (m, f) = SnapshotOps.vacuumOlderThan(dir, horizon, graceMs = 0L)
      Seq((m.toLong, f.toLong)).toDF("manifests_dropped", "files_deleted")
    case PragmaVacuum(name) =>
      // orphan-only GC: keep every version (nothing expires), delete
      // only files no manifest references — lost CAS races' leftovers
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("vacuum", name)
      val keep = math.max(1,
        SnapshotOps.availableVersions(dir).size)
      val (m, f) = SnapshotOps.vacuum(dir, keepVersions = keep,
        graceMs = 0L)
      Seq((m.toLong, f.toLong)).toDF("manifests_dropped", "files_deleted")
    case PragmaTablePartitions(name) =>
      // the Iceberg `partitions` metadata table at the PRAGMA surface:
      // distinct derived transform values with file/row counts, read
      // from the manifest only — zero data files opened
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("table_partitions", name)
      SnapshotOps.partitionValues(dir, SnapshotOps.currentVersion(dir))
        .toDF("transform", "value", "files", "rows")
    case PragmaMaintenance(name) =>
      // the compaction-policy verdict at the PRAGMA surface (r16):
      // merge-on-read debt from manifest metadata only, plus the
      // read-tax model's flag. `reason` carries `auto_compacted(…)`
      // when the commit-time policy already paid the debt this
      // statement (SET auto_compact = true).
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("table_maintenance", name)
      val live = SnapshotOps.maintenanceDebt(dir,
        SnapshotOps.currentVersion(dir))
      val d = maintenanceFlags.get(norm(name))
        .filter(f => f.version == live.version &&
          f.reason.startsWith("auto_compacted"))
        .getOrElse(live)
      Seq((d.version.toLong, d.dataFiles.toLong, d.dataRows,
        d.dvFiles.toLong, d.dvRows, d.eqFiles.toLong, d.eqRows,
        d.flagged, d.reason))
        .toDF("version", "data_files", "data_rows", "dv_files",
          "dv_rows", "eq_files", "eq_rows", "compact_recommended",
          "reason")
    // ---- named refs (r15): tags + branch forks at the SQL surface ----
    // `PRAGMA create_tag('t','name'[,version])` pins a version against
    // retention; `VERSION AS OF 'name'` resolves it (or a branch
    // head). `PRAGMA create_branch('t','name')` forks the chain and
    // binds the writable table `t.branch_<name>` — every DML verb
    // (INSERT/UPDATE/DELETE/MERGE, layout, evolution) works on it
    // through the normal path, isolated from `t` until
    // `PRAGMA fast_forward('t','name')` adopts the branch commits.
    case PragmaCreateTag(name, tag, verS) =>
      import graft.operators.SnapshotOps
      val dir = ensureSnapshot(name).getOrElse(
        throw new IllegalArgumentException(
          s"create_tag: '$name' has no snapshot-capable content to tag"))
      registerSnapshot(name, dir)
      SnapshotOps.createTag(dir, tag,
        Option(verS).map(_.toInt)
          .getOrElse(SnapshotOps.currentVersion(dir)))
      empty()
    case PragmaDropTag(name, tag) =>
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("drop_tag", name)
      Seq(SnapshotOps.dropTag(dir, tag)).toDF("dropped")
    case PragmaCreateBranch(name, br) =>
      import graft.operators.SnapshotOps
      val dir = ensureSnapshot(name).getOrElse(
        throw new IllegalArgumentException(
          s"create_branch: '$name' has no snapshot-capable content"))
      registerSnapshot(name, dir)
      val bd = SnapshotOps.createBranchFork(dir, br,
        SnapshotOps.currentVersion(dir))
      registerSnapshot(s"${norm(name)}.branch_$br", bd)
      empty()
    case PragmaDropBranch(name, br) =>
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("drop_branch", name)
      unbindBranch(name, br)
      Seq(SnapshotOps.dropBranchFork(dir, br)).toDF("dropped")
    case PragmaFastForward(name, br) =>
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("fast_forward", name)
      val c = SnapshotOps.fastForward(dir, br)
      lastCommit(norm(name)) = c
      unbindBranch(name, br) // the fork is consumed
      registerSnapshot(name, dir)
      Seq((c.version.toLong, c.written.toLong))
        .toDF("version", "adopted_commits")
    case PragmaTableRefs(name) =>
      import spark.implicits._
      import graft.operators.SnapshotOps
      val dir = historyDir("table_refs", name)
      val tags = SnapshotOps.listTags(dir)
        .map { case (n, v) => (n, "tag", v.toLong) }
      val brs = SnapshotOps.listBranchForks(dir).map { b =>
        (b, "branch", SnapshotOps.currentVersion(
          SnapshotOps.branchForkDir(dir, b)).toLong)
      }
      (brs ++ tags).sortBy(r => (r._2, r._1))
        .toDF("name", "kind", "version")
    case PragmaTableInfo(name) =>
      import spark.implicits._
      table(name).schema.fields.zipWithIndex.map { case (f, i) =>
        (i, f.name, Summarize.duckTypeName(f.dataType),
          !f.nullable, Option.empty[String], false)
      }.toSeq.toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
    case PragmaDbList() =>
      import spark.implicits._
      (Seq("memory") ++ attached.keys.toSeq).zipWithIndex
        .map { case (n, i) => (i.toLong, n, "") }
        .toDF("seq", "name", "file")
    case ShowDatabases() =>
      import spark.implicits._
      (Seq(defaultDbName) ++ attached.keys.toSeq).toDF("database_name")
    case SetCmd(key, value) =>
      spark.conf.set(s"graft.setting.$key", normalizeSetting(key, value))
      setKeys += key // unset on close — settings die with the session
      key match { // DuckDB knobs with direct Spark equivalents
        case "threads" =>
          setDerived("spark.sql.shuffle.partitions", value)
        case "warehouse" => attachWarehouse(value)
        case _ =>
      }
      empty()
    case CallVersion() =>
      spark.sql("SELECT pragma_version() AS `version`")
    case SummarizeCmd(name) => Summarize.summarize(table(name))
    case DescribeCmd(name) =>
      Summarize.describe(table(name),
        notNullCols.getOrElse(norm(name), Set.empty),
        declaredTypes.getOrElse(norm(name), Map.empty))
    case query =>
      // information_schema.tables/columns (r16): rebuild the views from
      // the CURRENT catalog, then resolve like any dotted name
      val infoQuery =
        if (infoSchemaRe.findFirstIn(query).isEmpty) query
        else {
          refreshInformationSchema()
          infoSchemaRe.replaceAllIn(query,
            m => "information_schema_" + m.group(1).toLowerCase)
        }
      // db-qualified names (nyc.taxi) resolve through the Engine catalog:
      // temp views are single-part, so swap in the underscored view name
      val dotted = tables.keys.filter(_.contains('.'))
        .foldLeft(infoQuery) { (q, key) =>
          ("""(?i)\b""" + java.util.regex.Pattern.quote(key) + """\b""").r
            .replaceAllIn(q, key.replace('.', '_'))
        }
      // metadata-only count(*) (r14): Iceberg's count pushdown at the
      // SQL surface — answered from summed manifest row stats, zero
      // data files opened; declines (scan as usual) whenever the
      // metadata answer isn't exact (eq-deletes, missing row stats)
      lastMetaCount.clear() // statement-scoped, never stale
      metaCount(lexed).foreach(return _)
      // time-travel clauses (r14): `t [FOR] VERSION AS OF n` /
      // `t [FOR] TIMESTAMP AS OF 'ts'` swap in a view over the
      // committed snapshot — any table position, including self-joins
      // of two versions. Everything after the rewrite runs under the
      // unbind finally (rewriteTimeTravel cleans up after itself if it
      // fails mid-statement), so a rewriter/analysis error can never
      // leak a statement-scoped view.
      val (ttSql, ttViews) = rewriteTimeTravel(dotted)
      try {
        val rewritten =
          DuckRewriter.rewrite(bindFileTables(ttSql), schemaOf)
        // SQL-scan manifest pruning (r14): a plain single-table SELECT
        // whose WHERE translates to bound constraints reads only the
        // manifest-surviving files. Rebinding is ANALYSIS-scoped:
        // spark.sql analyzes eagerly (Dataset.ofRows asserts
        // analysis), so restoring the original binding afterwards
        // cannot reach the returned frame's resolved plan.
        pruneScan(rewritten) match {
          case Some((n, pruned)) =>
            val orig = tables(n)
            bind(n, pruned)
            try spark.sql(rewritten) finally bind(n, orig)
          case None => spark.sql(rewritten)
        }
      } finally ttViews.foreach(unbindAsOfView)
  }
  }

  /** SQL time travel (r14): rewrite every `t [FOR] VERSION AS OF n`
    * and `t [FOR] TIMESTAMP AS OF 'ts'` over a snapshot-backed table
    * into a fresh view bound to [[graft.operators.SnapshotOps
    * .readSnapshot]] / `readSnapshotAsOf` — the Delta/Iceberg SQL
    * idiom, resolved over the token stream (a 'VERSION AS OF' inside
    * a string literal can never match). Timestamps parse under the
    * session time zone; an expired or future version fails loudly in
    * the read, never silently serves another snapshot. Returns the
    * rewritten text plus the view names to unbind after analysis. */
  private def unbindAsOfView(v: String): Unit = {
    tables.remove(v)
    asOfBinds.remove(v)
    spark.catalog.dropTempView(v)
  }

  private def rewriteTimeTravel(sql0: String): (String, Seq[String]) = {
    import graft.dialect.SqlNormalizer.{Num, Quoted, Word}
    import graft.operators.SnapshotOps
    val ls = Stmt.lexemes(sql0)
    def word(i: Int): Option[String] = ls.lift(i).map(_.tok).collect {
      case Word(w) => w.toUpperCase }
    final case class Hit(nameIdx: Int, lastIdx: Int, view: String)
    val hits = scala.collection.mutable.ArrayBuffer.empty[Hit]
    var k = 0
    var i = 0
    try {
    while (i < ls.length) {
      val resolved = ls(i).tok match {
        case Word(w) =>
          val n0 = norm(w)
          if (snapshotDirs.contains(n0)) Some((w, n0))
          else snapshotDirs.keys.find(_.replace('.', '_') == n0)
            .map(key => (w, key))
        case _ => None
      }
      resolved.foreach { case (written, key) =>
        val j = if (word(i + 1).contains("FOR")) i + 2 else i + 1
        val kind = word(j)
        if ((kind.contains("VERSION") || kind.contains("TIMESTAMP")) &&
            word(j + 1).contains("AS") && word(j + 2).contains("OF")) {
          val dir = snapshotDirs(key)
          val view = s"${written.replace('.', '_')}_asof_$k"
          (kind.get, ls.lift(j + 3).map(_.tok)) match {
            case ("VERSION", Some(Num(n))) =>
              // committed versions start at 1: 0 would silently read
              // the empty pre-table frame, never-existed must be loud
              require(n.toInt >= 1,
                s"VERSION AS OF ${n.toInt}: committed versions start at 1")
              bind(view, SnapshotOps.readSnapshot(spark, dir, n.toInt))
              asOfBinds(view) = (dir, n.toInt)
              hits += Hit(i, j + 3, view); k += 1
            case ("VERSION", Some(q: Quoted)) if q.text.startsWith("'") =>
              // named ref (r15): a TAG resolves to its pinned version,
              // a BRANCH to its head — the Iceberg `VERSION AS OF
              // 'ref'` string form. Unknown names fail loudly.
              val ref = q.text.drop(1).dropRight(1).replace("''", "'")
              require(ref.matches("[A-Za-z0-9_-]+"),
                s"VERSION AS OF '$ref': not a valid ref name")
              SnapshotOps.tagVersion(dir, ref) match {
                case Some(v) =>
                  bind(view, SnapshotOps.readSnapshot(spark, dir, v))
                  asOfBinds(view) = (dir, v)
                case None =>
                  val bd = SnapshotOps.branchForkDir(dir, ref)
                  require(new java.io.File(bd, "manifests").isDirectory,
                    s"VERSION AS OF '$ref': no tag or branch named " +
                      s"'$ref' on $key")
                  bind(view, SnapshotOps.readLatest(spark, bd))
                  asOfBinds(view) = (bd, SnapshotOps.currentVersion(bd))
              }
              hits += Hit(i, j + 3, view); k += 1
            case ("TIMESTAMP", Some(q: Quoted))
                if q.text.startsWith("'") =>
              val txt = q.text.drop(1).dropRight(1).replace("''", "'")
              val ms = parseLocalInstant(txt, sessionZone)
                .getOrElse(throw new IllegalArgumentException(
                  s"TIMESTAMP AS OF: cannot parse '$txt'"))
                .toEpochMilli
              SnapshotOps.versionAsOf(dir, ms) match {
                case Some(v) =>
                  bind(view, SnapshotOps.readSnapshot(spark, dir, v))
                  asOfBinds(view) = (dir, v)
                case None => // loud-failure / empty-table path
                  bind(view, SnapshotOps.readSnapshotAsOf(spark, dir, ms))
              }
              hits += Hit(i, j + 3, view); k += 1
            case _ =>
          }
        }
      }
      i += 1
    }
    } catch { case e: Throwable => // mid-statement failure: no leaks
      hits.foreach(h => unbindAsOfView(h.view))
      throw e
    }
    if (hits.isEmpty) (sql0, Seq.empty)
    else {
      // splice right-to-left so earlier character spans stay valid
      val out = hits.sortBy(-_.nameIdx).foldLeft(sql0) { (s, h) =>
        s.take(ls(h.nameIdx).start) + h.view + s.drop(ls(h.lastIdx).end)
      }
      (out, hits.map(_.view).toSeq)
    }
  }

  private def sessionZone: java.time.ZoneId = java.time.ZoneId.of(
    spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))

  /** 'yyyy-MM-dd[ HH:mm:ss[.f…]]' under `zone` → the instant; None on
    * any parse failure. Delegates to the ONE normalization both
    * TIMESTAMP AS OF and timestamp-bound pruning share
    * ([[graft.operators.ManifestPrune.parseLocalInstant]]) — they must
    * never drift apart. */
  private def parseLocalInstant(s: String,
      zone: java.time.ZoneId): Option[java.time.Instant] =
    graft.operators.ManifestPrune.parseLocalInstant(s, zone)

  /** Statement-scoped manifest pruning (r14): when `rewritten` is a
    * plain single-table SELECT over a snapshot-backed table and its
    * WHERE yields usable conjuncts ([[graft.dialect.ScanPrune]]),
    * translate them through the SAME order-preserving encoding the
    * manifest bounds were recorded with and prune the file list. The
    * statement's full WHERE still executes, so this can only skip
    * files that provably hold no match — exactly what Iceberg/Delta
    * do for engine scans, here at the SQL surface with zero user API.
    * Returns the pruned read only when something was actually skipped
    * (rebinding for a no-op would cost plan re-analysis for nothing);
    * records every translated decision in [[lastPrune]]. */
  private def pruneScan(rewritten: String): Option[(String, DataFrame)] = {
    import graft.dialect.ScanPrune
    import graft.operators.SnapshotOps
    val (tname, raws) = ScanPrune.analyze(rewritten).getOrElse(return None)
    // underscored view names bind back to their dotted catalog entry
    val n = if (tables.contains(norm(tname))) norm(tname)
      else tables.keys.find(_.replace('.', '_') == norm(tname))
        .getOrElse(return None)
    // time-travel views prune against the manifest of the version
    // actually read, not the current one
    val (dir, versionOpt) = snapshotDirs.get(n).map((_, None)) orElse
      asOfBinds.get(n).map { case (d, v) => (d, Some(v)) } getOrElse
      (return None)
    manifestCandidates(n, dir, tables(n).schema, raws, versionOpt).map {
      case (version, files) =>
        (n, SnapshotOps.readSnapshotFiles(spark, dir, version, files))
    }
  }

  /** Manifest candidates for a DML WHERE clause (r14): the same
    * conjunct grammar and encoding as SELECT pruning, applied to the
    * predicate text alone. Returns null (no hint) unless the clause
    * translated AND something was actually skipped; commitRewrite
    * drops the hint itself if its CAS loop rebases past the version
    * the candidates were proved against. */
  private def dmlCandidates(name: String, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      whereText: String): (Int, Seq[String]) = {
    val n = norm(name)
    val names = Set(n, n.split('.').last)
    val raws = graft.dialect.ScanPrune.conjunctsOf(whereText, names)
    if (raws.isEmpty) null
    else manifestCandidates(n, dir, schema, raws).orNull
  }

  /** Raw predicates → (version, pruned file list) against `dir`'s
    * CURRENT manifest, via the typed-bounds encoding; records the
    * decision in [[lastPrune]] and returns None when nothing
    * translated or nothing was skipped. */
  private def manifestCandidates(n: String, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      raws: Seq[graft.dialect.ScanPrune.RawPred],
      versionOpt: Option[Int] = None)
      : Option[(Int, Seq[String])] = {
    import graft.operators.SnapshotOps
    val version = versionOpt.getOrElse(SnapshotOps.currentVersion(dir))
    // typed bound encoding + hidden-partition derivation live in
    // ManifestPrune (r16) — shared verbatim with the execution-time
    // file-listing path (graft.sources.GraftFileIndex)
    val preds = graft.operators.ManifestPrune.cnfPreds(
      dir, version, schema, raws, sessionZone)
    if (preds.isEmpty) return None
    val kept = SnapshotOps.predFilesCnf(dir, version, preds)
    val total = SnapshotOps.snapshotFileCount(dir, version)
    lastPrune(n) = (kept.size, total)
    if (kept.size >= total) None else Some((version, kept))
  }

  // ---- COPY (balanced hand parser: the (query) form nests parens) --------
  private val copyHeadRe = """(?is)\A\s*COPY\s+""".r
  private val copyTailRe =
    """(?is)\A\s*(TO|FROM)\s+'([^']+)'\s*(?:\((.*)\))?\s*\z""".r

  private def parseCopy(stmt: String): DataFrame = {
    var rest = copyHeadRe.replaceFirstIn(stmt, "")
    var query: Option[String] = None
    var name = ""
    var cols: Option[Seq[String]] = None
    if (rest.startsWith("(")) {
      val end = balancedEnd(rest, 1)
      query = Some(rest.substring(1, end - 1))
      rest = rest.substring(end)
    } else {
      val m = """(?s)\A([\w.]+)\s*""".r.findFirstMatchIn(rest).get
      name = m.group(1)
      rest = rest.substring(m.end)
      if (rest.startsWith("(")) {
        val end = balancedEnd(rest, 1)
        cols = Some(DuckRewriter.splitTop(rest.substring(1, end - 1))
          .map(_.trim))
        rest = rest.substring(end)
      }
    }
    rest match {
      case copyTailRe(dir, path, optsOpt) =>
        val opts = copyOptions(optsOpt)
        if (dir.equalsIgnoreCase("TO")) {
          val df0 = query.map(executeDuck).getOrElse(table(name))
          val df = cols match {
            case Some(cs) => df0.select(cs.map(col): _*)
            case None => df0
          }
          copyTo(df, resolveWritePath(path), opts)
        } else copyFrom(name, cols, resolvePath(path), opts)
      case other =>
        throw new IllegalArgumentException(s"COPY: cannot parse '$other'")
    }
  }

  private def fmtOf(path: String, opts: Map[String, String]): String =
    opts.getOrElse("format",
      if (path.endsWith(".parquet")) "parquet"
      else if (path.endsWith(".json")) "json" else "csv")

  private def copyTo(df: DataFrame, path: String,
      opts: Map[String, String]): DataFrame = {
    val partCols = opts.get("partition_by")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    def partitioned(w: org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row]) =
      if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w
    fmtOf(path, opts) match {
      case "parquet" => partitioned(df.write.mode("overwrite")).parquet(path)
      case "json" => partitioned(df.write.mode("overwrite")).json(path)
      case _ =>
        // CSV holds scalars only: complex columns serialize as JSON text
        // (DuckDB's COPY writes its list/struct repr similarly)
        import org.apache.spark.sql.types._
        val flat = df.select(df.schema.fields.map { f =>
          f.dataType match {
            case _: ArrayType | _: StructType | _: MapType =>
              to_json(col(f.name)).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
        // PARTITION_BY applies to CSV too — the flat rewrite must not
        // drop the partitioned-writer configuration
        partitioned(flat.write.mode("overwrite").option("header", "true")
          .option("sep", opts.getOrElse("delimiter", ","))).csv(path)
    }
    empty()
  }

  private def copyFrom(name: String, colsOpt: Option[Seq[String]],
      path: String, opts: Map[String, String]): DataFrame = {
    val target = table(name)
    val incomingCols = colsOpt.map(_.map(_.toLowerCase))
      .getOrElse(target.columns.map(_.toLowerCase).toSeq)
    val readSchema = org.apache.spark.sql.types.StructType(
      target.schema.fields.filter(f =>
        incomingCols.contains(f.name.toLowerCase)))
    val in = fmtOf(path, opts) match {
      case "parquet" =>
        // hive-partition glob (dir/city=X/*.parquet): recover the
        // partition column from the directory name via basePath
        val partIdx = path.split('/').indexWhere(_.matches("[^=]+=[^=]*"))
        if (partIdx > 0) {
          val base = path.split('/').take(partIdx).mkString("/")
          spark.read.option("basePath", base).parquet(path)
        } else spark.read.parquet(path)
      case "json" => spark.read.schema(readSchema).json(path)
      case _ =>
        // complex columns travel as JSON text in CSV (see copyTo)
        import org.apache.spark.sql.types._
        val flatSchema = StructType(readSchema.fields.map {
          case f @ StructField(_, _: ArrayType | _: StructType |
              _: MapType, _, _) => f.copy(dataType = StringType)
          case f => f
        })
        val raw = spark.read.schema(flatSchema).option("header", "true")
          .option("sep", opts.getOrElse("delimiter", ",")).csv(path)
        raw.select(readSchema.fields.map { f =>
          f.dataType match {
            case _: ArrayType | _: StructType | _: MapType =>
              from_json(col(f.name), f.dataType).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
    }
    // column-subset COPY: absent columns land as typed NULLs (S10)
    val aligned = target.schema.fields.map { f =>
      if (in.columns.map(_.toLowerCase).contains(f.name.toLowerCase))
        col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    register(name, target.unionByName(in.select(aligned.toIndexedSeq: _*)))
    empty()
  }

  private def copyOptions(optsOpt: String): Map[String, String] =
    Option(optsOpt).map { o =>
      DuckRewriter.splitTop(o).flatMap { kv =>
        kv.trim.split("\\s+", 2) match {
          case Array(k, v) => Some(k.toLowerCase ->
            v.trim.stripPrefix("'").stripSuffix("'")
              .stripPrefix("(").stripSuffix(")").toLowerCase)
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  /** DuckDB type spellings → Spark DDL (VARCHAR[n] / FLOAT[k] / STRUCT). */
  private def normalizeType(t0: String): String = {
    val t = t0.trim
    val arrayRe = """(?i)(\w+)\s*\[\s*\d*\s*\]""".r
    val structRe = """(?is)STRUCT\s*\((.+)\)""".r
    t match {
      case arrayRe(el) => s"array<${normalizeType(el)}>"
      case structRe(fields) =>
        val fs = DuckRewriter.splitTop(fields).map { f =>
          val parts = f.trim.split("\\s+", 2)
          s"${parts(0)}:${normalizeType(parts(1))}"
        }
        s"struct<${fs.mkString(",")}>"
      case other => other
        .replaceAll("(?i)\\bvarchar\\s*\\(\\s*\\d+\\s*\\)", "string")
        .replaceAll("(?i)\\bvarchar\\b|\\btext\\b|\\bchar\\b", "string")
        .replaceAll("(?i)\\bdatetime\\b", "timestamp")
    }
  }

  private def normalizeDdl(colDefs: String): String =
    DuckRewriter.splitTop(colDefs).map { d =>
      val parts = d.trim.split("\\s+", 2)
      s"${parts(0)} ${normalizeType(parts.lift(1).getOrElse("string"))}"
    }.mkString(", ")

  private def empty(): DataFrame = spark.emptyDataFrame
}
