package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side snapshot/commit protocol — the transactional layer over
  * the q196/q211/q226 maintenance verbs (compaction, Z-order rewrite,
  * manifest-pinned as-of reads). q226 proved time-travel READS over
  * hand-built file lists; this object makes the file lists the output
  * of committed OPERATIONS, the Iceberg/Delta snapshot model reduced
  * to its two load-bearing guarantees:
  *
  *   1. **Data files are immutable.** Every writer lands its files
  *      under a run-unique `data/<token>/` directory; nothing ever
  *      rewrites a published file, so any committed snapshot stays
  *      readable forever (time travel is file-list selection).
  *   2. **Commit = one atomic metadata operation.** A snapshot is a
  *      manifest file `manifests/v<N>.manifest` whose lines are
  *      manifest-GROUP references (`@` lines carrying aggregated
  *      stats; the group file holds the per-file entries — the
  *      Iceberg manifest-list level, see the groups section below) or
  *      legacy flat file entries. Publishing version N is a hard-link
  *      creation of that name from a fully-written temp file — link
  *      creation is
  *      atomic in POSIX and FAILS if the name exists, which makes the
  *      version number a compare-and-swap slot: of two concurrent
  *      writers targeting v<N>, exactly one wins; the loser's data
  *      files are intact and its commit REBASES onto the winner's
  *      manifest and retries at v<N+1>. Readers only ever see fully
  *      committed manifests (the temp file is complete before the
  *      link exists).
  *
  * Append is manifest-union (old files + new files — no data read at
  * all). Replace is copy-on-write at FILE granularity: one job finds
  * which files contain matching rows (`_metadata.file_path` over the
  * snapshot scan — no per-file driver loop), one job rewrites exactly
  * those files with the update applied; untouched files are REUSED
  * byte-for-byte in the new manifest. At 100 TB an update touching one
  * partition rewrites that partition's files and relinks the rest —
  * cost tracks the touched data, never the table.
  *
  * Cited shape: Iceberg's spec (version-numbered metadata + atomic
  * swap + immutable data files); no reference-repo analogue (the
  * reference's state layer is fixture database files).
  */
object SnapshotOps {

  /** Commit attempt outcome for one version slot. `skipped` marks an
    * idempotent no-op (the txn marker showed this batch already
    * committed) — `version` is then the version that already contains
    * the batch's rows. */
  final case class Committed(version: Int, reused: Int, written: Int,
      conflicts: Int, skipped: Boolean = false)

  /** One manifest entry: an immutable data file plus optional per-file
    * column statistics captured at write time — numeric min/max
    * `bounds` and equality-lookup Bloom filters `blooms` (base64 in
    * the manifest, `~col=` fields). Both power manifest-level FILE
    * SKIPPING: a range or point read consults the manifest — a
    * metadata operation — before Spark ever lists or opens a data
    * file, the Iceberg/Delta data-skipping model. Bounds suit sorted/
    * range-partitioned keys — numeric natively, string/date/timestamp
    * through the order-preserving [[encodeBound]] map (r14); blooms
    * suit equality probes on high-cardinality keys with no sort
    * order. A file
    * with no stats for a column is never skipped on that column
    * (absence is always safe). */
  final case class FileEntry(path: String,
      bounds: Map[String, (BigDecimal, BigDecimal)],
      blooms: Map[String, Array[Byte]] = Map.empty) {
    private[SnapshotOps] def line: String =
      (Seq(path) ++
        bounds.toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => s"$c=$lo..$hi" } ++
        blooms.toSeq.sortBy(_._1).map { case (c, b) =>
          s"~$c=${java.util.Base64.getEncoder.encodeToString(b)}"
        }).mkString("\t")
  }

  private def manifestDir(tableDir: String): Path =
    Paths.get(tableDir, "manifests")

  private def manifestPath(tableDir: String, v: Int): Path =
    manifestDir(tableDir).resolve(s"v$v.manifest")

  // ---------------------------------------------------------------
  // Manifest GROUPS — the manifest-list level (Iceberg's two-level
  // metadata tree). A version manifest line is either a plain file
  // entry (legacy/flat) or a GROUP reference:
  //
  //   @<groupFile>\t_files=n..n\t_rows=sum..sum\t<col>=lo..hi…\t~col=…
  //
  // i.e. the FileEntry line format with the path prefixed by `@`,
  // where bounds are the AGGREGATED envelope over the group's files
  // (per-column [min of los, max of his]; `_rows` the summed row
  // count; blooms the bitwise UNION of the members' filters — legal
  // because all filters are built with identical size/hash params).
  // The group file itself (`manifests/groups/g-*.grp`, immutable)
  // holds the per-file entry lines.
  //
  // Why: a flat manifest is O(table's files) of driver parse on EVERY
  // read, commit, and vacuum — fine at 10³ files, a driver bottleneck
  // at the 10⁵-10⁶ files a 100 TB table carries. With groups,
  //   * commitAppend/publishBranch carry the base manifest's lines
  //     forward VERBATIM and add one group line — commit metadata
  //     cost tracks the commit, never the table;
  //   * pruned reads (range/point/box) test the group envelope first
  //     and parse only groups that may match — planning is
  //     O(groups + surviving files), not O(files);
  //   * partial rewrites are copy-on-write at GROUP granularity: a
  //     group none of whose files is touched carries forward as its
  //     one unparsed line.
  // A column missing from ANY member's stats is omitted from the
  // envelope (absence never skips, at either level). Group files are
  // immutable, so they are shared across versions and cacheable; they
  // are GC'd by [[vacuum]] alongside the data files.
  // ---------------------------------------------------------------

  /** Reserved group-bounds key carrying the member-file count. */
  private val FilesKey = "_files"

  private def groupsDir(tableDir: String): Path =
    manifestDir(tableDir).resolve("groups")

  /** Immutable-content cache of parsed group files: a group file is
    * written once and never modified, so caching by path is safe; the
    * bound only caps driver memory across many tables/tests. */
  private val groupCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()

  private def groupEntries(path: String): Seq[FileEntry] = {
    if (groupCache.size > 4096) groupCache.clear()
    groupCache.computeIfAbsent(path, p =>
      new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).toSeq.map(parseEntry))
  }

  private def unionBloom(parts: Seq[Array[Byte]]): Array[Byte] = {
    val merged = parts.map(b => org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b)))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    bos.toByteArray
  }

  /** Write `entries` as one immutable group file and return its
    * manifest line (aggregated envelope stats, see above). */
  private def groupLine(tableDir: String, entries: Seq[FileEntry]): String = {
    require(entries.nonEmpty, "empty manifest group")
    val gd = groupsDir(tableDir)
    Files.createDirectories(gd)
    // full UUID + CREATE_NEW: group files are immutable and referenced
    // by published manifests with no CAS protection of their own, so a
    // name collision must fail THIS commit loudly instead of silently
    // overwriting an older snapshot's group
    val gp = gd.resolve(s"g-${java.util.UUID.randomUUID()}.grp")
    Files.write(gp,
      entries.map(_.line).mkString("\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    val cols = entries.flatMap(_.bounds.keys).distinct
    val bounds = cols.flatMap { c =>
      val bs = entries.map(_.bounds.get(c))
      if (bs.exists(_.isEmpty)) None // a stat-less member poisons the col
      else {
        val vs = bs.flatten
        Some(c -> (if (c == RowsKey || c == BytesKey ||
            c.startsWith(NullsPrefix)) {
          val s = vs.map(_._1).sum; (s, s)
        } else (vs.map(_._1).min, vs.map(_._2).max)))
      }
    }.toMap + (FilesKey ->
      (BigDecimal(entries.size), BigDecimal(entries.size)))
    val blooms = entries.flatMap(_.blooms.keys).distinct
      .filter(c => entries.forall(_.blooms.contains(c)))
      .map(c => c -> unionBloom(entries.map(_.blooms(c)))).toMap
    groupCache.put(gp.toString, entries)
    "@" + FileEntry(gp.toString, bounds, blooms).line
  }

  /** A commit's new files as its one group line (none for no files). */
  private def groupLines(tableDir: String,
      entries: Seq[FileEntry]): Seq[String] =
    if (entries.nonEmpty) Seq(groupLine(tableDir, entries)) else Nil

  /** One non-meta manifest line: a flat file entry or a group
    * reference. `ref` is the line's own stats (the file's, or the
    * group's aggregated envelope); `entries` expands to the per-file
    * entries (parsing the group file only when called — pruned reads
    * never expand skipped groups). */
  private final case class ManifestUnit(raw: String) {
    val isGroup: Boolean = raw.startsWith("@")
    /** `!` lines are DELETION VECTORS (merge-on-read position deletes):
      * the path is a parquet file of (_file, _pos) rows naming deleted
      * positions of live data files; `_rows` carries the position
      * count. A DV line is metadata ONLY — it contributes no data
      * entries, so every file-listing consumer skips it structurally. */
    val isDelete: Boolean = raw.startsWith("!")
    /** `=` lines are EQUALITY DELETES (Iceberg v2's second delete
      * shape): the path is a parquet file of key TUPLES (its schema IS
      * the equality key), `_rows` the tuple count. Applies only to
      * data units with a strictly LOWER `_seq` — a later re-insert of
      * the same key survives. Metadata-only, like DVs. */
    val isEqDelete: Boolean = raw.startsWith("=")
    lazy val ref: FileEntry =
      parseEntry(if (isGroup || isDelete || isEqDelete) raw.drop(1) else raw)
    lazy val entries: Seq[FileEntry] =
      if (isDelete || isEqDelete) Seq.empty
      else if (isGroup) groupEntries(ref.path) else Seq(ref)
    /** The unit's stamped sequence number, when published post-r13. */
    def seqNo: Option[Int] = ref.bounds.get(SeqKey).map(_._1.toInt)
    /** May this unit hold rows inside the box? (absent bounds: yes) */
    def mayMatch(box: Seq[(String, BigDecimal, BigDecimal)]): Boolean =
      box.forall { case (c, lo, hi) =>
        ref.bounds.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    /** May this unit hold `column == value(h)`? (absent bloom: yes) */
    def mayContain(column: String, h: Long): Boolean =
      ref.blooms.get(column).forall(b =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b))
          .mightContainLong(h))
  }

  private def snapshotUnits(tableDir: String, version: Int): Seq[ManifestUnit] =
    manifestLines(tableDir, version).filterNot(_.startsWith("#"))
      .map(ManifestUnit)

  private def dataUnits(tableDir: String, version: Int): Seq[ManifestUnit] =
    snapshotUnits(tableDir, version)
      .filterNot(u => u.isDelete || u.isEqDelete)

  /** Deletion-vector entries of a snapshot: path = a parquet file of
    * (_file, _pos) deleted positions, `_rows` bound = position count.
    * Every DV row references a data file LIVE in the same snapshot
    * (rewrite-class commits consolidate DVs, dropping rows whose file
    * they rewrote), so `sum(_rows)` is exactly the snapshot's invisible
    * row count. */
  def deleteEntries(tableDir: String, version: Int): Seq[FileEntry] =
    snapshotUnits(tableDir, version).filter(_.isDelete).map(_.ref)

  /** (DV file count, DV position count) of a snapshot — the
    * merge-on-read debt a maintenance policy watches. */
  def deleteStats(tableDir: String, version: Int): (Int, Long) = {
    val dvs = deleteEntries(tableDir, version)
    (dvs.size, dvs.flatMap(_.bounds.get(RowsKey)).map(_._1.toLong).sum)
  }

  /** Merge-on-read debt of a snapshot with the compaction-policy
    * verdict (r16, the r15 verdict's #8) — manifest metadata ONLY, no
    * data file opened. The read-tax model: every DV position is one
    * anti-join row on every scan; every stacked eq-delete commit is
    * one more plan-time key-frame/bloom consult (the r15 flattening
    * made the SCAN flat in delete count, but commit metadata and
    * plan-time work still grow); invisible rows are pure scan waste a
    * compaction reclaims. `flagged` trips when any of:
    *   - DV'd + eq-deleted rows ≥ `rowTaxPct`% of recorded data rows
    *     (default 10 — the classic rewrite-beats-MoR crossover), or
    *   - stacked delete FILES (dv + eq lines) ≥ `maxDeleteFiles`
    *     (default 8 — bounded plan-time metadata work per scan).
    * `reason` names the tripped rule; compaction ([[commitCompact]])
    * pays the whole debt in one committed version. */
  final case class MaintenanceDebt(version: Int, dataFiles: Int,
      dataRows: Long, dvFiles: Int, dvRows: Long, eqFiles: Int,
      eqRows: Long, flagged: Boolean, reason: String)

  def maintenanceDebt(tableDir: String, version: Int,
      rowTaxPct: Int = 10, maxDeleteFiles: Int = 8): MaintenanceDebt = {
    val entries = snapshotEntries(tableDir, version)
    val dataRows = entries.flatMap(_.bounds.get(RowsKey))
      .map(_._1.toLong).sum
    val (dvF, dvR) = deleteStats(tableDir, version)
    val (eqF, eqR) = eqDeleteStats(tableDir, version)
    val deadRows = dvR + eqR // eq rows are key tuples — an upper-
    // bound proxy for matched rows; over-flagging only compacts early
    val rowTax = dataRows > 0 && deadRows * 100 >= dataRows * rowTaxPct
    val fileTax = dvF + eqF >= maxDeleteFiles
    val reason =
      if (rowTax && fileTax) "row_tax+delete_files"
      else if (rowTax) "row_tax"
      else if (fileTax) "delete_files"
      else ""
    MaintenanceDebt(version, entries.size, dataRows, dvF, dvR, eqF, eqR,
      flagged = rowTax || fileTax, reason = reason)
  }

  /** Equality-delete entries of a snapshot with their stamped
    * sequence numbers, ascending. An eq-delete line without `_seq`
    * fails fast: the delete-after-data rule cannot be evaluated
    * without an order, and guessing silently swallows re-inserts. */
  private def eqDeleteUnits(tableDir: String,
      version: Int): Seq[(FileEntry, Int)] =
    snapshotUnits(tableDir, version).filter(_.isEqDelete).map { u =>
      (u.ref, u.seqNo.getOrElse(throw new IllegalStateException(
        s"equality-delete line without a stamped $SeqKey in " +
          s"$tableDir v$version: ${u.raw.take(120)}")))
    }.sortBy(_._2)

  /** (eq-delete file count, key-tuple count) of a snapshot — the
    * equality-delete debt, the dual of [[deleteStats]]. */
  def eqDeleteStats(tableDir: String, version: Int): (Int, Long) = {
    val eqs = snapshotUnits(tableDir, version).filter(_.isEqDelete)
      .map(_.ref)
    (eqs.size, eqs.flatMap(_.bounds.get(RowsKey)).map(_._1.toLong).sum)
  }

  /** Versions whose manifests still exist, ascending — [[vacuum]] may
    * have dropped a prefix, so history enumeration must list, not
    * count from 1 (reading a dropped version's manifest throws). */
  def availableVersions(tableDir: String): Seq[Int] =
    Option(manifestDir(tableDir).toFile.listFiles())
      .getOrElse(Array.empty)
      .flatMap(f => "^v(\\d+)\\.manifest$".r
        .findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .sorted.toSeq

  /** Highest committed version; 0 = the empty table (no manifest). */
  def currentVersion(tableDir: String): Int =
    availableVersions(tableDir).lastOption.getOrElse(0)

  private def manifestLines(tableDir: String, version: Int): Seq[String] =
    if (version == 0) Seq.empty
    else new String(Files.readAllBytes(manifestPath(tableDir, version)),
      StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty).toSeq

  /** Manifest metadata (`#key:value` header lines) — carries the
    * streaming txn watermarks across commits. */
  def snapshotMeta(tableDir: String, version: Int): Map[String, String] =
    manifestLines(tableDir, version).filter(_.startsWith("#"))
      .map(_.drop(1).split(":", 2)).collect {
        case Array(k, v) => k -> v
      }.toMap

  private def parseEntry(l: String): FileEntry = {
    val fields = l.split("\t")
    val (bloomFields, boundFields) = fields.tail.partition(_.startsWith("~"))
    FileEntry(fields.head,
      boundFields.flatMap { f =>
        f.split("=", 2) match {
          case Array(c, range) => range.split("\\.\\.", 2) match {
            case Array(lo, hi) =>
              Some(c -> (BigDecimal(lo), BigDecimal(hi)))
            case _ => None
          }
          case _ => None
        }
      }.toMap,
      bloomFields.flatMap { f =>
        f.drop(1).split("=", 2) match {
          case Array(c, b64) =>
            Some(c -> java.util.Base64.getDecoder.decode(b64))
          case _ => None
        }
      }.toMap)
  }

  /** File entries (path + per-file column stats) of a snapshot,
    * group references expanded. Plain path lines (pre-stats manifests)
    * parse as entries with no stats. */
  def snapshotEntries(tableDir: String, version: Int): Seq[FileEntry] =
    snapshotUnits(tableDir, version).flatMap(_.entries)

  /** Data-file list of a committed snapshot (empty for version 0). */
  def snapshotFiles(tableDir: String, version: Int): Seq[String] =
    snapshotEntries(tableDir, version).map(_.path)

  /** Read a committed snapshot as of `version` (manifest-pinned file
    * list, the q226 read path). Version 0 / an empty manifest reads as
    * an empty frame of `schema`. `mergeSchema = true` unions the file
    * schemas (the q194 evolution read): files predating an evolved
    * append surface the newer columns as null — reader-side defaults,
    * no data rewrite. */
  def readSnapshot(spark: SparkSession, tableDir: String, version: Int,
      schema: org.apache.spark.sql.types.StructType = null,
      mergeSchema: Boolean = false): DataFrame = {
    val files = snapshotFiles(tableDir, version)
    if (files.nonEmpty) {
      // column-mapped (evolved) tables read under mergeSchema so every
      // physical column surfaces across pre-/post-evolution files, then
      // project live ids AS OF THIS VERSION (physical → logical): time
      // travel to a pre-rename/pre-drop version reproduces that
      // version's shape with its data, from the same unrewritten files
      val mapping = columnMapping(tableDir, version)
      val dvs = deleteEntries(tableDir, version)
      val eqs = eqDeleteUnits(tableDir, version)
      // CLEAN snapshot (no MoR debt, no mapping): serve a relation over
      // the manifest-backed FileIndex (r16) — the scan then consults
      // the manifest's bounds/blooms/hidden-partition stats at
      // file-LISTING time with the filters Spark pushed down for THIS
      // scan, so skipping fires from ANY plan shape (joins,
      // subqueries, CTEs), not just the statement front end's
      // single-table grammar. Identical rows, full parquet stack.
      if (mapping.isEmpty && dvs.isEmpty && eqs.isEmpty && !mergeSchema)
        graft.sources.GraftRelation.frame(spark, tableDir, version)
      else {
        val phys = readUnitsVisible(spark, tableDir,
          dataUnits(tableDir, version), dvs, eqs,
          mergeSchema = mergeSchema || mapping.nonEmpty,
          prune = Some((tableDir, version)))
        logicalView(phys, mapping)
      }
    } else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Option(schema).getOrElse(org.apache.spark.sql.types.StructType(Nil)))
  }

  // ---------------------------------------------------------------
  // DELETION VECTORS (merge-on-read position deletes — the Iceberg v2
  // / Delta DV model). A copy-on-write delete pays O(touched files'
  // BYTES): one matching row in a 1 GB file rewrites the gigabyte. A
  // merge-on-read delete pays O(MATCHED ROWS): the commit writes only
  // a parquet of (_file, _pos) deleted positions — captured from the
  // scan's `_metadata.file_path` / `_metadata.row_index`, so position
  // identity comes from the format, not bookkeeping — and publishes a
  // `!` manifest line. Readers anti-join the positions out; the DV
  // frame is broadcast while small (it tracks deleted rows, not the
  // table). Rewrite-class commits CONSOLIDATE: rows naming a file
  // being rewritten are dropped (the rewrite bakes them in), the rest
  // re-write as one DV — so every DV row always references a LIVE
  // file, metadata-only count(*) stays exact (data rows minus DV
  // rows), and full rewrites (compact / z-order) purge the debt.
  //
  // Considered and rejected: EQUALITY deletes (Iceberg v2's second
  // delete shape — key values instead of positions, no table scan at
  // commit time). Correct application requires per-file sequence
  // numbers (an eq-delete must apply only to files OLDER than it, or
  // a later re-insert of the same key is silently swallowed); this
  // manifest carries no per-entry sequence, and position deletes +
  // [[commitUpdateMoR]] already cover the engine's delete/update
  // semantics with one mechanism. Revisit only if commit-time scans
  // ever dominate a real delete workload.
  //
  // SEQUENCE-NUMBER DESIGN NOTE (r12, deliberate deferral). The
  // sequence an explicit per-line field would record is ALREADY
  // well-defined and derivable: seq(unit) := the lowest version whose
  // manifest carries the unit's raw line (lines are immutable and
  // carry forward verbatim, so this is stable — the invariant
  // [[unitSequence]] exposes and SnapshotOpsSpec pins). Two facts
  // hold by construction and matter for ordering semantics:
  //   (1) monotonicity — once a line appears, its derived sequence
  //       never changes in any later version that carries it;
  //   (2) delete-after-data — a DV line's sequence is ≥ the sequence
  //       of every data unit whose files it names (a delete can only
  //       name files already committed).
  // An EXPLICIT `_seq=<v>` field on group/DV lines becomes necessary
  // exactly when derivation breaks or is too costly at read time:
  // (a) [[vacuum]] drops old version manifests, destroying the
  // history the derivation walks; (b) equality deletes must compare
  // sequences file-by-file DURING a read, where walking O(versions)
  // manifests per scan is the wrong cost shape. Neither path exists
  // today — every reader is position-based and needs no ordering —
  // so the field is deferred; when equality deletes land, stamp
  // `_seq` at publish time in tryPublishLines (new lines get the
  // version being published; carried lines keep theirs), which makes
  // the derived and stored sequences identical by (1).
  // ---------------------------------------------------------------

  /** Derived per-unit sequence numbers of a snapshot: for each
    * non-meta line of `version`'s manifest, the lowest version whose
    * manifest carries that exact line — the commit that created it.
    * O(versions × lines) driver metadata walk; see the design note
    * above for when this derivation must become an explicit field. */
  def unitSequence(tableDir: String, version: Int): Map[String, Int] = {
    val lines = manifestLines(tableDir, version)
      .filterNot(_.startsWith("#"))
    // explicit `_seq` stamps (r13, publish-time) answer without any
    // manifest walk — and keep answering after vacuum drops the
    // history the derivation below would need
    val stamped = lines.flatMap(l =>
      ManifestUnit(l).seqNo.map(l -> _)).toMap
    if (stamped.size == lines.size) return stamped
    // The unstamped fallback walks surviving manifests; if retention
    // expired the early ones, first-seen would silently shift to the
    // post-expire horizon instead of the true creation version. An
    // introspection surface must not return a wrong answer that looks
    // right — fail like readSnapshotAsOf does for expired as-of targets.
    // (stampSeq takes the opposite trade at publish time: commits must
    // proceed, and eq-deletes postdate stamping so a horizon-bounded
    // stamp cannot mis-apply one.)
    val avail = availableVersions(tableDir).filter(_ <= version)
    require(avail.headOption.contains(1),
      s"unitSequence($tableDir, $version): unstamped manifest lines " +
        "need the full version history, but versions before " +
        s"${avail.headOption.getOrElse(-1)} were expired by retention " +
        "— the derived sequence would be a post-expire lower bound, " +
        "not the creation version; compact or rewrite the table first")
    val seq = scala.collection.mutable.Map.empty[String, Int]
    avail.foreach { v =>
      manifestLines(tableDir, v).filterNot(_.startsWith("#"))
        .foreach(l => if (!seq.contains(l)) seq(l) = v)
    }
    lines.map(l => l -> stamped.getOrElse(l, seq(l))).toMap
  }

  /** DV parquet schema: the deleted row's file (as `_metadata.file_path`
    * spells it) and its position in that file. */
  private val DvFileCol = "_file"
  private val DvPosCol = "_pos"

  /** DV read-tier boundaries (measured by DvScaleProbe, BASELINE.md
    * round 12):
    *  - `literal` — at or below this many positions the DV applies as
    *    a literal per-file `NOT IN` filter (one whole-stage-codegen
    *    pipeline, no broadcast build), the common selective-delete
    *    case;
    *  - [[DvLiteralFiles]] — the literal tier also caps how many DV'd
    *    FILES it will split into per-file scans (each single-file
    *    frame pays its own listing/planning constant; a 1-file 2k-DV
    *    wins literal 321 vs 419 ms, an all-8-files DV loses 2-6x —
    *    hence 4, not the r11 guess of 32);
    *  - `bcast` — above this many positions the anti-join stops
    *    broadcasting and falls back to a shuffle join (a DV that
    *    large is compaction debt, not a broadcast candidate). */
  private final case class DvTiers(literal: Long, bcast: Long)

  /** Thread-confined row-threshold overrides (spec scaffolding —
    * production never overrides). A DynamicVariable, NOT a global var:
    * plan construction reads the boundaries on the calling thread, so
    * a concurrent reader in the same JVM can never plan its DV
    * application with a spec's foreign thresholds (the r12 global-var
    * data race the advisor flagged). */
  private val dvTiers =
    new scala.util.DynamicVariable[DvTiers](DvTiers(1L << 16, 1L << 20))

  private[graft] def DvLiteralRows: Long = dvTiers.value.literal
  private[graft] def DvBroadcastRows: Long = dvTiers.value.bcast
  private[graft] val DvLiteralFiles: Int = 4

  /** Run `body` with the DV row thresholds overridden ON THIS THREAD
    * (restored on exit; invisible to concurrent work). */
  private[graft] def withDvThresholds[T](literal: Long, bcast: Long)(
      body: => T): T =
    dvTiers.withValue(DvTiers(literal, bcast))(body)

  /** Driver cache of small DVs' collected positions, keyed by the
    * (immutable) DV file list — repeated reads of a snapshot pay the
    * DV collect once per JVM. */
  private val dvLiteralCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Seq[Long]]]()

  private def dvPositions(spark: SparkSession,
      dvs: Seq[FileEntry]): Map[String, Seq[Long]] = {
    val key = dvs.map(_.path).sorted.mkString("\n")
    val cached = dvLiteralCache.get(key)
    if (cached != null) return cached
    val m = readParquet(spark, dvs.map(_.path))
      .select(col(DvFileCol), col(DvPosCol))
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).toSeq }
    if (dvLiteralCache.size > 256) dvLiteralCache.clear()
    dvLiteralCache.put(key, m)
    m
  }

  /** `_metadata.file_path` in the manifest's plain-path spelling — the
    * one canonical file identity DV rows, manifest entries and the
    * anti-join all share (URI-vs-plain mismatches hash/compare
    * differently and would silently miss deletes). */
  private def normFileCol(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^file:/+", "/")

  /** The one parquet reader of table-owned files (data, DV and
    * equality-delete files) in the metadata plane. It always hands
    * Spark a schema, so planning the read never runs Spark's schema
    * inference: a parquet read without one launches a footer-reading
    * job (`mergeSchemasInParallel`) per relation, one job plus a driver
    * gap for every DV, delete-key and data read a statement plans. The
    * schema is the caller's `anchor` when given, else [[filesSchema]]'s:
    * footers read on the driver and cached by path, which is safe
    * because the engine never rewrites a file it published. */
  private def readParquet(spark: SparkSession, files: Seq[String],
      anchor: org.apache.spark.sql.types.StructType = null,
      mergeSchema: Boolean = false): DataFrame =
    spark.read.schema(
      if (anchor != null) anchor else filesSchema(spark, files, mergeSchema))
      .parquet(files: _*)

  /** The schema Spark's inference would give a read of `files`, from
    * cached footers. Without `mergeSchema` it is the footer of the
    * lexicographically first file, as Spark's non-merge inference
    * takes it. With `mergeSchema` it folds Spark's own `StructType.merge`
    * over one footer per write directory, in path order: all files of
    * one directory come from one write (every commit writes under a
    * fresh `data/<uuid>/`, hive-style `k=v` partition directories
    * below it), so they share a schema and the fold equals Spark's fold
    * over every file. A manifest unit holds one commit's files, so this
    * reads O(units) footers, each once per JVM — never O(files) per
    * statement. Directories, not units, are the grouping because a
    * small-file compaction groups several bins' files in one unit, and
    * on a column-mapped table two bins can be written with different
    * columns. */
  private def filesSchema(spark: SparkSession, files: Seq[String],
      mergeSchema: Boolean = false): org.apache.spark.sql.types.StructType = {
    require(files.nonEmpty, "parquet read of no files needs an anchor schema")
    if (!mergeSchema) footerSchema(spark, files.min)
    else {
      def writeDir(f: String) =
        localPath(f).split('/').init.reverse.dropWhile(_.contains('='))
          .reverse.mkString("/")
      val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
      files.groupBy(writeDir).values.map(_.min).toSeq.sorted
        .map(footerSchema(spark, _))
        .reduceLeft(org.apache.spark.sql.graft.SchemaBridge
          .merge(_, _, caseSensitive))
    }
  }

  /** A (file ordinal, position) pair packed into one long join/InSet
    * key: position occupies the low 40 bits (a single parquet file
    * cannot reach 2⁴⁰ rows), the ordinal the high 23 — the DV key a
    * LongHashedRelation/InSet handles natively. */
  private val PosBits = 40

  /** Read `files` with the snapshot's DV positions tagged out, keeping
    * the scan's (file, position) identity as `__file`/`__pos` columns —
    * the read every commit that needs row provenance builds on.
    *
    * DV application keys on the row's FILE identity; a ~100-char path
    * STRING as the per-row key was a measured 7.6× read tax over the
    * clean scan (EqScaleProbe, round 13 — string hash + memcmp per row
    * in the join, an O(DV'd files) string-compare OR-chain in the
    * literal tier). Both tiers now intern the path to its index in the
    * plan-time scan file list ([[graft.functions.GraftHash.pathOrdinal]],
    * one bounded hash probe per row, `file:` spelling normalized
    * byte-wise — no per-row regex) and key on a single packed long, so
    * the literal tier is one InSet probe regardless of DV'd-file count
    * and the join tier builds a long-keyed relation. `__file` (the
    * normalized string, for provenance consumers like commitDelete) is
    * only materialized when a downstream plan actually selects it. */
  private def readTagged(spark: SparkSession, files: Seq[String],
      dvs: Seq[FileEntry], mergeSchema: Boolean = false,
      anchor: org.apache.spark.sql.types.StructType = null): DataFrame = {
    val scan = readParquet(spark, files, anchor, mergeSchema)
    if (dvs.isEmpty)
      scan.select(col("*"),
        normFileCol(col("_metadata.file_path")).as("__file"),
        col("_metadata.row_index").as("__pos"))
    else {
      val ordPaths = files.map(localPath)
      val fkey = shiftleft(graft.functions.GraftFunctions
        .pathOrdinal(col("_metadata.file_path"), ordPaths).cast("long"),
        PosBits).bitwiseOR(col("_metadata.row_index"))
      val tagged = scan.select(col("*"),
        normFileCol(col("_metadata.file_path")).as("__file"),
        col("_metadata.row_index").as("__pos"),
        fkey.as("__fkey"))
      val rows = dvs.flatMap(_.bounds.get(RowsKey)).map(_._1.toLong).sum
      val out =
        if (rows <= DvLiteralRows && rows > 0) {
          // small DV: one literal probe over sorted packed keys — no
          // join, the scan stays one codegen pipeline, expression size
          // O(1) in the DV'd-file count; binary search, not InSet,
          // because InSet's immutable-set probe boxes every key
          // (measured 3× the clean scan at 20k keys vs 1.6× for the
          // search — TmpDvProbe decomposition, round 14)
          val byFile = dvPositions(spark, dvs)
          val ordOf = ordPaths.zipWithIndex.toMap
          val keys = byFile.toSeq.flatMap { case (f, ps) =>
            // a DV row naming a file outside this scan can match nothing
            ordOf.get(f).toSeq.flatMap(o =>
              ps.map(p => (o.toLong << PosBits) | p))
          }
          if (keys.isEmpty) tagged
          else tagged.where(!graft.functions.GraftFunctions
            .inSortedLongs(col("__fkey"), keys))
        } else {
          // ONE pathOrdinal instance feeds both the prune and the key:
          // two separate calls would carry two distinct paths-array
          // Literals, and once the optimizer interleaves the filter
          // with the projection the per-thread ordinal cache (keyed on
          // array identity) would rebuild per row
          val dvOrd = graft.functions.GraftFunctions
            .pathOrdinal(col(DvFileCol), ordPaths)
          val dv = readParquet(spark, dvs.map(_.path))
            .select(shiftleft(dvOrd.cast("long"), PosBits)
              .bitwiseOR(col(DvPosCol)).as("__dkey"),
              col(DvFileCol))
            // prune DV rows naming files this scan doesn't read — they
            // can't match, and they'd collide ordinal -1's key space
            .where(dvOrd >= 0)
            .select(col("__dkey"))
          val dvSized = if (rows <= DvBroadcastRows) broadcast(dv) else dv
          tagged.join(dvSized, tagged("__fkey") === dvSized("__dkey"),
            "left_anti")
        }
      out.drop("__fkey")
    }
  }

  /** Path→xxhash64 memo for the DV bloom probes: the probe is
    * O(manifest files) driver work per DV read, and file paths repeat
    * across every read of the table, so the hash is computed once per
    * path per JVM (bounded; cleared when it outgrows the cap). */
  private val pathHashCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def pathHash(f: String): Long = {
    val cached = pathHashCache.get(f)
    if (cached != null) return cached
    val h = probeHash(f, org.apache.spark.sql.types.StringType)
    if (pathHashCache.size > 262144) pathHashCache.clear()
    pathHashCache.put(f, h)
    h
  }

  /** Files whose path might appear in any of the DVs, by probing the
    * `~_file=` Blooms on the DV manifest lines — pure metadata, no DV
    * parquet opened. None ⇒ some DV predates the bloom (never skip). */
  private def dvMaybeFiles(dvs: Seq[FileEntry],
      files: Seq[String]): Option[Set[String]] = {
    val blooms = dvs.flatMap(_.blooms.get(DvFileCol))
    if (blooms.size != dvs.size) return None
    val filters = blooms.map(b =>
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b)))
    Some(files.filter { f =>
      val h = pathHash(f)
      filters.exists(_.mightContainLong(h))
    }.toSet)
  }

  /** Plain-schema read of `files` with DV positions removed; identical
    * to a bare parquet read when the snapshot carries no DVs (no
    * metadata projection, no join — existing plans are untouched).
    * With DVs, the DV lines' `~_file` Blooms SCOPE the anti-join to
    * files that might actually carry deletes — a selective delete on a
    * 10⁵-file table taxes the scan of the handful of DV'd files, not
    * the table. */
  private def readFilesDv(spark: SparkSession, files: Seq[String],
      dvs: Seq[FileEntry], mergeSchema: Boolean = false,
      anchor: org.apache.spark.sql.types.StructType = null,
      prune: Option[(String, Int)] = None): DataFrame = {
    // DV-free sides of a read carrying a prune context list their
    // files through a subset GraftFileIndex (r16): Catalyst-pushed
    // filters skip files inside merge-on-read scan groups too —
    // sound below the anti-joins because a filter on data columns
    // commutes with LEFT ANTI on the data side, and the query's own
    // predicates still run in full above the scan.
    def plainPart(fs: Seq[String]): DataFrame = prune match {
      case Some((dir, v)) if !mergeSchema && fs.nonEmpty =>
        graft.sources.GraftRelation.subsetFrame(spark, dir, v, fs, anchor)
      case _ => readParquet(spark, fs, anchor, mergeSchema)
    }
    if (dvs.isEmpty) plainPart(files)
    else {
      val maybe = dvMaybeFiles(dvs, files)
        .getOrElse(files.toSet) // bloom-less DV: anti-join everything
      val dvd = files.filter(maybe)
      val clean = files.filterNot(maybe)
      val rows = dvs.flatMap(_.bounds.get(RowsKey)).map(_._1.toLong).sum
      val dvdSide: Option[DataFrame] =
        if (dvd.isEmpty) None
        else if (rows > 0 && rows <= DvLiteralRows &&
            dvd.size <= DvLiteralFiles) {
          // small DV, few files: each DV'd file filters on row_index
          // alone — a long-typed InSet, no path string materialized,
          // no join; the per-file frames union with the clean scan
          val byFile = dvPositions(spark, dvs)
          Some(dvd.map { f =>
            val ps = byFile.getOrElse(localPath(f), Seq.empty)
            val r = readParquet(spark, Seq(f), anchor, mergeSchema)
            if (ps.isEmpty) r // bloom false positive
            else r.where(!graft.functions.GraftFunctions.inSortedLongs(
              col("_metadata.row_index"), ps))
          }.reduce(_.unionByName(_, allowMissingColumns = mergeSchema)))
        } else Some(readTagged(spark, dvd, dvs, mergeSchema, anchor)
          .drop("__file", "__pos"))
      val sides = dvdSide.toSeq ++ (
        if (clean.nonEmpty) Some(plainPart(clean))
        else None)
      sides.reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
    }
  }

  /** Immutable-file caches (r15): a published parquet file is written
    * once and never modified, so its footer schema (one driver footer
    * read, no Spark relation — constructing a DataFrame per delete made
    * read PLANNING O(delete commits) at ~100 ms each) and an eq-delete
    * key file's collected rows (delete-sized by the commit contract,
    * probed against file Blooms at plan time) both cache safely by
    * path. Caps bound driver memory across tables/tests. */
  private val footerSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private val keyRowsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[org.apache.spark.sql.Row]]()

  /** The Spark schema of one parquet file, as Spark's inference reads
    * it from the footer: the schema the writer stored under
    * `org.apache.spark.sql.parquet.row.metadata` when present (it keeps
    * the types parquet cannot spell, e.g. intervals), else the parquet
    * schema converted under the session's SQL conf. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetReadSupport, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.types.{DataType, StructType}
    if (footerSchemaCache.size > 4096) footerSchemaCache.clear()
    footerSchemaCache.computeIfAbsent(path, p =>
      try {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p),
            spark.sessionState.newHadoopConf()))
        val meta = try reader.getFooter.getFileMetaData
          finally reader.close()
        Option(meta.getKeyValueMetaData.get(
            ParquetReadSupport.SPARK_METADATA_KEY))
          .flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption)
          .collect { case s: StructType => s }
          .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
            .convert(meta.getSchema))
      } catch { case scala.util.control.NonFatal(_) =>
        spark.read.parquet(p).schema // odd layout: let Spark infer
      })
  }

  private def keyFileRows(spark: SparkSession,
      path: String): Array[org.apache.spark.sql.Row] = {
    if (keyRowsCache.size > 1024) keyRowsCache.clear()
    keyRowsCache.computeIfAbsent(path, p => readParquet(spark, Seq(p)).collect())
  }

  /** Distinct data-file paths a deletion vector names, memoized per DV
    * path (DV files are immutable; the aggregation job that computes
    * the set — scale-safe for corpus-sized DVs — runs once per DV per
    * session instead of once per consuming diff span). */
  private val dvFilesCache = new java.util.concurrent.ConcurrentHashMap[
    String, Set[String]]()
  private def dvFilesOf(spark: SparkSession, path: String): Set[String] = {
    if (dvFilesCache.size > 1024) dvFilesCache.clear()
    dvFilesCache.computeIfAbsent(path, p =>
      readParquet(spark, Seq(p)).select(col(DvFileCol)).distinct()
        .collect().map(r => localPath(r.getString(0))).toSet)
  }

  /** The unit's sequence, REQUIRED whenever equality deletes are in
    * play — the read-time delete-after-data assertion: without a
    * stamped order, applying (or skipping) a delete is a guess that
    * silently swallows re-inserts, so the read fails fast instead. */
  private def seqRequired(u: ManifestUnit, tableDir: String): Int =
    u.seqNo.getOrElse(throw new IllegalStateException(
      s"data unit without a stamped $SeqKey read under equality " +
        s"deletes in $tableDir (pre-stamping manifest line: " +
        s"${u.raw.take(100)}) — compact or rewrite the table first"))

  /** Visible read of data `units` (optionally file-pruned by `keep`):
    * DV positions subtracted and equality deletes applied SEQ-AWARE —
    * a delete's keys anti-join only out of units with a strictly
    * lower sequence (Iceberg v2's rule: an equality delete applies to
    * data files strictly older than itself, so a later re-insert of
    * the same key survives). With no eq-deletes this is EXACTLY one
    * readFilesDv/readTagged over all files — zero plan regression on
    * eq-free tables. With them, units sharing an applicable-delete
    * suffix (eqs ascend by seq) scan as ONE group: groups ≤ distinct
    * delete seqs + 1, key frames are delete-sized (model-sized by the
    * commit contract), the corpus never shuffles.
    *
    * Two scale bounds inside each group (r15):
    *  - plan depth is O(distinct key signatures), NOT O(delete
    *    commits): all applicable same-signature key frames union into
    *    ONE broadcast anti-join side, so a continuously-ingesting
    *    table stacking N un-compacted key-delete commits reads with
    *    the same plan as one consolidated delete;
    *  - Bloom scoping: each delete's keys (collected once,
    *    delete-sized) probe the file entries' column Blooms at plan
    *    time — a file whose Blooms refute EVERY applicable key takes
    *    the no-join path entirely (absence of a bloom never skips;
    *    the eqTouched scoping [[snapshotDiff]] already proved). */
  private def readUnitsVisible(spark: SparkSession, tableDir: String,
      units: Seq[ManifestUnit], dvs: Seq[FileEntry],
      eqs: Seq[(FileEntry, Int)], mergeSchema: Boolean = false,
      anchor: org.apache.spark.sql.types.StructType = null,
      tagged: Boolean = false,
      keep: FileEntry => Boolean = _ => true,
      prune: Option[(String, Int)] = None): DataFrame = {
    def readPart(files: Seq[String]) =
      if (tagged) readTagged(spark, files, dvs, mergeSchema, anchor)
      else readFilesDv(spark, files, dvs, mergeSchema, anchor, prune)
    val kept = units.map(u => u -> u.entries.filter(keep))
      .filter(_._2.nonEmpty)
    if (eqs.isEmpty) readPart(kept.flatMap(_._2.map(_.path)))
    else {
      // schemas come from cached footer reads — NO Spark relation per
      // delete, so planning stays O(signatures) however many delete
      // commits stack up; the join sides below read each signature's
      // files as ONE multi-path relation
      val keyFields = eqs.map(e => footerSchema(spark, e._1.path).fields)
      // may file `en` hold ANY key of delete `i`? A missing bloom for
      // a key column keeps the file a candidate — absence never
      // skips, and a bloom-less table never collects keys at all.
      def mightTouch(en: FileEntry, i: Int): Boolean = {
        val fields = keyFields(i)
        if (!fields.exists(f => en.blooms.contains(f.name))) return true
        val filters = fields.map(f => f.name ->
          en.blooms.get(f.name).map(b =>
            org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(b)))).toMap
        keyFileRows(spark, eqs(i)._1.path)
          .exists(r => fields.zipWithIndex.forall { case (f, j) =>
            val v = r.get(j)
            v == null || filters(f.name).forall(
              _.mightContainLong(probeHash(v, f.dataType)))
          })
      }
      kept
        .groupBy { case (u, _) =>
          eqs.count(_._2 > seqRequired(u, tableDir)) }
        .toSeq.sortBy(_._1)
        .map { case (nAppl, group) =>
          // the applicable deletes are exactly the nAppl highest-seq
          // ones (ascending order ⇒ a suffix)
          val applIdx = eqs.indices.takeRight(nAppl)
          val perFile = group.flatMap(_._2).map(en =>
            en.path -> applIdx.filter(i => mightTouch(en, i)))
          val cleanFiles = perFile.collect { case (p, is) if is.isEmpty => p }
          val touched = perFile.filter(_._2.nonEmpty)
          val joined =
            if (touched.isEmpty) None
            else {
              val base = readPart(touched.map(_._1))
              val folded = touched.flatMap(_._2).distinct
                .groupBy(i => keyFields(i).map(_.name).sorted.toSeq)
                .toSeq.sortBy(_._1.mkString(","))
                .foldLeft(base) { case (d, (_, is)) =>
                  // applying a delete to a file that lacks its keys is
                  // a no-op, so the coarse per-group union stays exact
                  val names = keyFields(is.head).map(_.name).toSeq
                  val keys = readParquet(spark, is.map(i => eqs(i)._1.path))
                    .select(names.map(col): _*)
                  d.join(broadcast(keys), names, "left_anti")
                }
              // usingColumns joins front-load the join columns —
              // restore the scan's column order
              Some(folded.select(base.columns.map(col).toIndexedSeq: _*))
            }
          (joined.toSeq ++
            (if (cleanFiles.isEmpty) None else Some(readPart(cleanFiles))))
            .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
        }
        .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
    }
  }

  /** Transactional MERGE-ON-READ delete: rows matching `cond` vanish
    * from the next snapshot without rewriting ANY data file — the
    * commit writes a deletion vector of matched positions and carries
    * every base manifest line forward verbatim. `reused` = every data
    * file; `written` = 0 (the DV is metadata, not data). A no-match
    * delete returns skipped=true and burns no version. The COW dual is
    * [[commitRewrite]] with a filtering update; policy: MOR for small
    * selective deletes on large files, COW when a file's deleted
    * fraction is large enough to be worth rewriting now. */
  /** Version-guarded candidate hint (r14), shared by every pruned
    * DML discovery: Some(localPath set) only when the hint was proved
    * against exactly `base` — a CAS rebase past that version drops it
    * rather than trusting a stale proof. */
  private def candidateKeep(candidates: (Int, Seq[String]),
      base: Int): Option[Set[String]] =
    Option(candidates).filter(_._1 == base)
      .map(_._2.map(localPath).toSet)

  def commitDelete(spark: SparkSession, tableDir: String, cond: Column,
      candidates: (Int, Seq[String]) = null): Committed =
    casCommit("commitDelete", tableDir, RescanBudget) { (base, conflicts) =>
      val units = dataUnits(tableDir, base)
      val entries = units.flatMap(_.entries)
      require(entries.nonEmpty, s"commitDelete on empty table $tableDir")
      val noMatch = Skip(Committed(base, entries.size, 0, conflicts,
        skipped = true))
      // manifest-pruned position discovery (r14, the commitRewrite
      // discipline): scan only files whose bounds may match; stale-
      // version hints are dropped, never trusted
      val candSet = candidateKeep(candidates, base)
      if (candSet.exists(_.isEmpty)) noMatch // proof of no matches at `base`
      else {
        val dvs = deleteEntries(tableDir, base)
        val mapping = columnMapping(tableDir, base)
        lazy val fullSchema = org.apache.spark.sql.types.StructType(
          readUnitsVisible(spark, tableDir, units, dvs,
            eqDeleteUnits(tableDir, base),
            mergeSchema = mapping.nonEmpty).schema)
        // The match scans VISIBLE rows only (eq-deletes applied), so a
        // DV never re-names a row an equality delete already removed.
        // `cond` references LOGICAL names — evaluate on the mapped view
        // (identity for never-evolved tables). The `~_file` bloom scopes
        // future reads' anti-join to the files the DV names — see
        // readFilesDv.
        val matched = logicalView(readUnitsVisible(spark, tableDir, units, dvs,
            eqDeleteUnits(tableDir, base), tagged = true,
            mergeSchema = mapping.nonEmpty,
            anchor = if (candSet.isDefined && mapping.nonEmpty)
              fullSchema else null,
            keep = candSet.map(cs => (e: FileEntry) =>
              cs.contains(localPath(e.path)))
              .getOrElse((_: FileEntry) => true)),
            mapping, extra = Seq("__file", "__pos"))
          .where(cond)
          .select(col("__file").as(DvFileCol), col("__pos").as(DvPosCol))
        val written = writeFiles(spark, tableDir, matched, DeleteFiles,
          Seq(DvPosCol), Seq(DvFileCol))
        if (written.isEmpty) noMatch // nothing matched: no version burned
        else Publish(metaLines(snapshotMeta(tableDir, base)) ++
          snapshotUnits(tableDir, base).map(_.raw) ++
          written.map("!" + _.line), entries.size, 0)
      }
    }

  /** Survivor re-wrap for partial rewrites: untouched entries of
    * BROKEN units re-group PER ORIGINAL UNIT, each new group line
    * keeping that unit's stamped sequence. Re-wrapping is metadata
    * packaging, not a rewrite — the files' rows still predate every
    * equality delete that applied to their unit; letting the publish
    * stamp them with the rewrite's version would rank them above the
    * carried `=` lines and silently resurrect the deleted rows. */
  private def survivorGroupLines(tableDir: String,
      broken: Seq[ManifestUnit], keep: FileEntry => Boolean): Seq[String] =
    broken.flatMap { u =>
      val surv = u.entries.filter(keep)
      if (surv.isEmpty) None
      else Some(u.seqNo.fold(groupLine(tableDir, surv))(s =>
        groupLine(tableDir, surv) + s"\t$SeqKey=$s..$s"))
    }

  /** The manifest of a partial copy-on-write commit over `base` (data
    * `units`, DVs `dvs`) that replaced the files in `rewritten` (local
    * paths) with `written`: base meta (plus the txn watermark), the
    * units none of whose files was rewritten carried verbatim, broken
    * units' survivors re-wrapped, the new files as one group, the DVs
    * consolidated, and the `=` lines carried (they still apply to every
    * file the rewrite didn't touch). */
  private def cowLines(spark: SparkSession, tableDir: String, base: Int,
      units: Seq[ManifestUnit], dvs: Seq[FileEntry], rewritten: Set[String],
      written: Seq[FileEntry],
      txn: Option[(String, Long)] = None): Seq[String] = {
    val kept = (e: FileEntry) => !rewritten.contains(localPath(e.path))
    val (intact, broken) = units.partition(_.entries.forall(kept))
    metaLines(withTxn(snapshotMeta(tableDir, base), txn)) ++
      intact.map(_.raw) ++
      survivorGroupLines(tableDir, broken, kept) ++
      groupLines(tableDir, written) ++
      consolidateDvLines(spark, tableDir, dvs, rewritten) ++
      snapshotUnits(tableDir, base).filter(_.isEqDelete).map(_.raw)
  }

  /** Transactional EQUALITY DELETE — Iceberg v2's second delete shape,
    * the one [[commitDelete]]'s positional DVs can't give you: DELETE
    * BY KEY with **zero data files scanned at commit time**. The
    * commit writes `keys` (distinct tuples; its columns ARE the
    * equality key, and must match the table's column names and types)
    * as one immutable parquet file and publishes a `=` manifest line —
    * O(keys), never O(table), where a positional delete must first
    * scan for matching positions. Readers anti-join the key tuples out
    * of every data unit whose stamped `_seq` is STRICTLY LOWER than
    * the delete's (stamped at publish by [[tryPublishLines]]), so a
    * later re-insert of the same key is never swallowed — the
    * delete-after-data rule, asserted at read time
    * ([[seqRequired]]). Rewrite-class maintenance pays the debt:
    * compact/cluster read eq-filtered input and drop the `=` lines;
    * partial rewrites keep them for the files they didn't touch.
    * `keys` must be broadcast-sized (it is a delete list, not data);
    * stats+blooms on its columns land on the line for future
    * metadata-level scoping. Empty keys ⇒ skipped, no version burned. */
  def commitDeleteByKey(spark: SparkSession, tableDir: String,
      keys: DataFrame): Committed = {
    require(keys.columns.nonEmpty, "commitDeleteByKey needs key columns")
    val pre = currentVersion(tableDir)
    require(pre >= 1, s"commitDeleteByKey on empty table $tableDir")
    // delete-after-data needs a total order: every existing data unit
    // must already carry a stamp, or this publish would stamp the
    // carried legacy lines with the SAME version as the new `=` line —
    // a sequence tie that silently exempts exactly the rows being
    // deleted. Fail here, where the fix (compact/rewrite once) is
    // obvious, not at some later read.
    require(dataUnits(tableDir, pre).forall(_.seqNo.isDefined),
      s"commitDeleteByKey on $tableDir: base snapshot carries data " +
        "units without a stamped _seq (pre-stamping manifest) — " +
        "compact or rewrite the table once first")
    // key columns arrive LOGICAL; the key file (whose schema IS the
    // equality key) must carry the frozen physical names the data
    // files' anti-join resolves against
    val physKeys = toPhysical(keys, columnMapping(tableDir, pre))
    val numericKeys = physKeys.schema.fields.filter(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSeq
    val written = writeFiles(spark, tableDir, physKeys.distinct(),
      DeleteFiles, numericKeys, physKeys.columns.toSeq)
    if (written.isEmpty) Committed(pre, 0, 0, 0, skipped = true)
    else casCommit("commitDeleteByKey", tableDir, RescanBudget) { (base, _) =>
      Publish(metaLines(snapshotMeta(tableDir, base)) ++
        snapshotUnits(tableDir, base).map(_.raw) ++
        written.map("=" + _.line),
        dataUnits(tableDir, base).flatMap(_.entries).size, 0)
    }
  }

  /** Transactional MERGE-ON-READ update — the Iceberg-v2 MOR update
    * shape: matched rows' positions become a deletion vector AND
    * `update` applied to them appends as new data files, both in ONE
    * committed version. No existing data file is rewritten: cost is
    * O(matched rows), not O(touched files' bytes) — the update dual of
    * [[commitDelete]], with [[commitRewrite]] as the COW alternative
    * when a file's updated fraction makes rewriting it worthwhile. */
  def commitUpdateMoR(spark: SparkSession, tableDir: String, cond: Column,
      update: DataFrame => DataFrame,
      candidates: (Int, Seq[String]) = null): Committed =
    casCommit("commitUpdateMoR", tableDir, RescanBudget) { (base, conflicts) =>
      val units = dataUnits(tableDir, base)
      val entries = units.flatMap(_.entries)
      require(entries.nonEmpty, s"commitUpdateMoR on empty table $tableDir")
      val noMatch = Skip(Committed(base, entries.size, 0, conflicts,
        skipped = true))
      // manifest-pruned match discovery (r14, the commitRewrite
      // discipline): scan only files whose bounds may match; a stale-
      // version hint is dropped, an empty current-version hint is a
      // proof of no matches
      val candSet = candidateKeep(candidates, base)
      if (candSet.exists(_.isEmpty)) noMatch
      else {
        val dvs = deleteEntries(tableDir, base)
        val mapping = columnMapping(tableDir, base)
        lazy val fullSchema = org.apache.spark.sql.types.StructType(
          readUnitsVisible(spark, tableDir, units, dvs,
            eqDeleteUnits(tableDir, base),
            mergeSchema = mapping.nonEmpty).schema)
        // matched VISIBLE rows (eq-deletes applied — an update must
        // never resurrect an equality-deleted row as new data), read
        // once; the checkpoint's blocks release before every exit.
        // cond and `update` see the LOGICAL view (identity un-evolved).
        val hits = checkpoint(logicalView(readUnitsVisible(spark,
            tableDir, units, dvs, eqDeleteUnits(tableDir, base),
            tagged = true, mergeSchema = mapping.nonEmpty,
            anchor = if (candSet.isDefined && mapping.nonEmpty)
              fullSchema else null,
            keep = candSet.map(cs => (e: FileEntry) =>
              cs.contains(localPath(e.path)))
              .getOrElse((_: FileEntry) => true)),
            mapping, extra = Seq("__file", "__pos"))
          .where(cond))
        val (dvWritten, written) = try {
          val dvW = writeFiles(spark, tableDir, hits.select(
            col("__file").as(DvFileCol), col("__pos").as(DvPosCol)),
            DeleteFiles, Seq(DvPosCol), Seq(DvFileCol))
          if (dvW.isEmpty) (dvW, Seq.empty[FileEntry])
          else (dvW, writeFiles(spark, tableDir,
            toPhysical(update(hits.drop("__file", "__pos")), mapping),
            DataFiles(base), statsColsOf(entries), bloomColsOf(entries)))
        } finally releaseCheckpoint(hits)
        if (dvWritten.isEmpty) noMatch // nothing matched: no version burned
        else Publish(metaLines(snapshotMeta(tableDir, base)) ++
          snapshotUnits(tableDir, base).map(_.raw) ++
          groupLines(tableDir, written) ++
          dvWritten.map("!" + _.line), entries.size, written.size)
      }
    }

  /** DV maintenance run by every rewrite-class commit: positions
    * naming a file in `rewritten` are dropped (that rewrite reads
    * DV-filtered input, baking the deletes in), survivors consolidate
    * into one new DV. Returns the replacement `!` lines — all of them
    * verbatim when the rewrite touches no DV'd file (zero IO), empty
    * when the debt is fully paid. O(DV rows), never O(table). */
  private def consolidateDvLines(spark: SparkSession, tableDir: String,
      dvs: Seq[FileEntry], rewritten: Set[String]): Seq[String] = {
    if (dvs.isEmpty) return Nil
    val dv = readParquet(spark, dvs.map(_.path))
    // DV distinct-file list is bounded by the live-file count — a
    // manifest-sized driver collect, same scale as `touched`
    val dvFiles = dv.select(col(DvFileCol)).distinct()
      .collect().map(_.getString(0))
    val drop = dvFiles.filter(v => rewritten.contains(localPath(v)))
    if (drop.isEmpty) return dvs.map("!" + _.line)
    writeFiles(spark, tableDir, dv.where(!col(DvFileCol).isin(drop.toSeq: _*)),
      DeleteFiles, Seq(DvPosCol), Seq(DvFileCol)).map("!" + _.line)
  }

  def readLatest(spark: SparkSession, tableDir: String): DataFrame =
    readSnapshot(spark, tableDir, currentVersion(tableDir))

  /** Atomically publish `files` as version `v` iff `v` is still free.
    * Returns true on win, false when another writer took the slot.
    * Publish is hard-link creation from a fully-written temp file, so
    * a reader can never observe a partial manifest and two writers can
    * never both own one version. */
  private[graft] def tryPublish(tableDir: String, v: Int,
      files: Seq[String]): Boolean =
    tryPublishLines(tableDir, v, files)

  /** Reserved bounds key: the unit's SEQUENCE NUMBER — the version
    * whose commit created the line (Iceberg's data sequence number).
    * Stamped at publish time by [[tryPublishLines]]: a line arriving
    * WITHOUT `_seq` is new to this commit and gets the version being
    * published; a line that already carries one is a carry-forward
    * (verbatim by the commit protocol) and keeps it — which makes the
    * stored value identical to the derived one ([[unitSequence]]'s
    * lowest-version-carrying-the-line walk) by construction, and keeps
    * it available after [[vacuum]] drops the manifests the derivation
    * would walk. Equality deletes ([[commitDeleteByKey]]) REQUIRE it:
    * a delete applies only to data units strictly older than itself. */
  private val SeqKey = "_seq"

  private def stampSeq(tableDir: String, lines: Seq[String],
      v: Int): Seq[String] = {
    def unstamped(l: String) =
      !l.startsWith("#") && !l.contains(s"\t$SeqKey=")
    // Legacy carry-forwards (lines published before stamping existed)
    // must be stamped with their TRUE creation version — the derived
    // unitSequence walk, still available at publish time — not the
    // version being published: stamping them `v` would make the stored
    // stamp disagree with history (readAppendsSince spanning the
    // boundary would see "base units rewritten", snapshotDiff would
    // call every file changed). The walk runs only when a legacy line
    // is present — post-stamping tables skip it entirely, and a line
    // in no prior manifest is genuinely new to this commit (gets `v`).
    // If retention already expired the early manifests, first-seen is
    // the best remaining bound (eq-deletes are younger than stamping
    // by construction, so correctness is unaffected — see unitSequence).
    lazy val seen: Map[String, Int] = {
      val m = scala.collection.mutable.Map.empty[String, Int]
      availableVersions(tableDir).filter(_ < v).foreach { pv =>
        manifestLines(tableDir, pv).filterNot(_.startsWith("#"))
          .foreach(l => if (!m.contains(l)) m(l) = pv)
      }
      m.toMap
    }
    if (!lines.exists(unstamped)) lines
    else lines.map { l =>
      if (!unstamped(l)) l
      else { val s = seen.getOrElse(l, v); l + s"\t$SeqKey=$s..$s" }
    }
  }

  private def tryPublishLines(tableDir: String, v: Int,
      lines: Seq[String]): Boolean = {
    Files.createDirectories(manifestDir(tableDir))
    val tmp = manifestDir(tableDir).resolve(
      s".v$v-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp,
      stampSeq(tableDir, lines, v).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    try { Files.createLink(manifestPath(tableDir, v), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** What one commit attempt asks [[casCommit]] to do with its base. */
  private[graft] sealed trait Outcome
  /** CAS-publish `lines` as `base + 1`; `reused`/`written` are the
    * data-file counts the [[Committed]] reports. */
  private[graft] final case class Publish(lines: Seq[String], reused: Int,
      written: Int) extends Outcome
  /** Nothing to publish against this base (an idempotent replay, an
    * empty match): `committed` is returned as is and no version burns. */
  private[graft] final case class Skip(committed: Committed) extends Outcome
  /** The verb refuses this base: nothing is published and
    * [[casCommitOrDecline]] returns None (a MERGE whose resolved rows
    * break its eligibility rule). */
  private[graft] case object Decline extends Outcome

  private val RelistBudget = 20
  private val RescanBudget = 5

  /** The one optimistic commit loop every commit verb runs (the Delta
    * Lake log protocol): read the current version `base`, run the
    * verb's `attempt(base, conflicts)` against it, and on [[Publish]]
    * CAS-publish `base + 1` ([[tryPublishLines]]: of two writers
    * targeting one slot exactly one wins). A lost slot counts a
    * conflict and re-runs the attempt against the new head, so every
    * retry rebases — its reads, checks and mapping all re-derive from
    * the base it publishes over; nothing computed against an older
    * base is republished. [[Skip]] returns without publishing. When
    * the last of its `budget` retries loses too, the verb fails with a
    * ConcurrentModificationException naming it.
    *
    * Two budgets: append, overwrite and branch publish write their data
    * once, before the loop, so a retry only re-lists the base's lines
    * and is cheap — they get [[RelistBudget]] (20). Every other verb
    * re-reads its base on each retry, and the data verbs re-scan and
    * re-write data, so under contention they give up sooner, after
    * [[RescanBudget]] (5) retries. */
  private[graft] def casCommit(verb: String, tableDir: String, budget: Int)(
      attempt: (Int, Int) => Outcome): Committed =
    casCommitOrDecline(verb, tableDir, budget)(attempt).getOrElse(
      throw new IllegalStateException(s"$verb declined on $tableDir"))

  /** [[casCommit]] for a verb whose attempt may return [[Decline]]:
    * None when it does, with nothing published. */
  private[graft] def casCommitOrDecline(verb: String, tableDir: String,
      budget: Int)(attempt: (Int, Int) => Outcome): Option[Committed] = {
    @scala.annotation.tailrec
    def run(conflicts: Int): Option[Committed] =
      if (conflicts > budget)
        throw new java.util.ConcurrentModificationException(
          s"$verb lost $conflicts version races on $tableDir")
      else {
        val base = currentVersion(tableDir)
        attempt(base, conflicts) match {
          case Skip(committed) => Some(committed)
          case Decline => None
          case Publish(lines, reused, written) =>
            if (tryPublishLines(tableDir, base + 1, lines))
              Some(Committed(base + 1, reused, written, conflicts))
            else run(conflicts + 1)
        }
      }
    run(0)
  }

  /** A streaming batch's txn watermark check: has stream `sid` already
    * committed batch `bid` (or a later one) into this meta? */
  private def alreadyIn(txn: Option[(String, Long)],
      meta: Map[String, String]): Boolean = txn.exists { case (sid, bid) =>
    meta.get(s"txn.$sid").exists(_.toLong >= bid)
  }

  /** `meta` with stream `sid`'s watermark advanced to `bid`. */
  private def withTxn(meta: Map[String, String],
      txn: Option[(String, Long)]): Map[String, String] =
    txn.fold(meta) { case (sid, bid) => meta + (s"txn.$sid" -> bid.toString) }

  /** Reserved meta key: the commit's wall-clock millis. Every commit
    * path funnels through here, so each version carries its own stamp
    * (the carried-forward base value is replaced) — what
    * [[versionAsOf]] time travel resolves against. */
  private val TsKey = "_ts"

  /** An eager local checkpoint of `df`, sized by the bytes its blocks
    * hold ([[org.apache.spark.sql.graft.PlanBridge.storedStats]]) rather
    * than by the estimate of the plan it came from: a MERGE's resolve
    * carries a join's estimate, and [[writeFiles]]' one-file rule reads
    * the size of what it writes. */
  private def checkpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.PlanBridge.storedStats(df.localCheckpoint())

  /** Release a localCheckpoint's blocks (the LogicalRDD's cache) —
    * commit verbs checkpoint their matched/source rows per call, and a
    * long-lived session (a streaming upsert sink committing every
    * micro-batch) must not accumulate them. Released without
    * `RDD.unpersist`'s WARN ([[org.apache.spark.sql.graft.RddBridge]]). */
  private[graft] def releaseCheckpoint(
      df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(r => scala.util.Try(
      org.apache.spark.sql.graft.RddBridge.release(r)))

  /** Run `body` with every Spark job it starts described as `desc` (what
    * a listener or the UI shows for the job), then restore the caller's
    * description. */
  private[graft] def withJobLabel[T](spark: SparkSession, desc: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }

  private def metaLines(meta: Map[String, String]): Seq[String] =
    (meta - TsKey + (TsKey -> System.currentTimeMillis().toString))
      .toSeq.sortBy(_._1).map { case (k, v) => s"#$k:$v" }

  /** Commit wall-clock of a version, when stamped. */
  def snapshotTimestamp(tableDir: String, version: Int): Option[Long] =
    snapshotMeta(tableDir, version).get(TsKey).map(_.toLong)

  /** Iceberg/Delta `TIMESTAMP AS OF`: the highest version whose commit
    * stamp is ≤ `tsMillis`. None when the table is empty or every
    * commit is later (or predates stamping). O(versions) meta reads —
    * header lines only, no entry parsed. */
  def versionAsOf(tableDir: String, tsMillis: Long): Option[Int] =
    availableVersions(tableDir) // expired versions can't resolve
      .filter(v => snapshotTimestamp(tableDir, v).exists(_ <= tsMillis))
      .maxOption

  def readSnapshotAsOf(spark: SparkSession, tableDir: String,
      tsMillis: Long,
      schema: org.apache.spark.sql.types.StructType = null): DataFrame =
    versionAsOf(tableDir, tsMillis) match {
      case Some(v) => readSnapshot(spark, tableDir, v, schema)
      case None =>
        // distinguish "before the table existed" (legitimately empty)
        // from "before the RETENTION horizon" (the answer existed and
        // was expired — a silent 0-row result would be a wrong answer,
        // so fail loudly, the Delta/Iceberg behaviour)
        require(availableVersions(tableDir).headOption.forall(_ == 1),
          s"TIMESTAMP AS OF $tsMillis predates the retention horizon " +
            s"of $tableDir (earlier versions were expired) — the " +
            "as-of snapshot no longer exists")
        readSnapshot(spark, tableDir, 0, schema)
    }

  /** Incremental APPEND read — the fast path a pipeline consumer polls
    * between runs: rows added in (`fromVersion`, `toVersion`], read
    * from exactly the manifest units `to` has and `from` lacks (unit-
    * raw cancellation, so carried-forward groups are never parsed),
    * with `to`'s DVs applied so rows already deleted at `to` don't
    * surface. Requires the span to be append-shaped, which means THREE
    * things must all hold (any violation ⇒ use [[snapshotDiff]], the
    * general CDC read):
    *   1. every `from` data unit is still present in `to` (a missing
    *      unit means a rewrite-class commit replaced base files);
    *   2. every `from` DV line carries forward verbatim (a dropped DV
    *      means a rewrite consolidated it);
    *   3. no DV added within the span names a file already present at
    *      `from` — a merge-on-read DELETE/UPDATE of base rows passes
    *      checks 1-2 (base files all carry forward) yet silently
    *      retracts rows the consumer already read; a MOR UPDATE would
    *      additionally re-emit them as appends (double-count). The
    *      check is metadata-first: the new DVs' `~_file` Blooms are
    *      probed against the base file list, and only a possible hit
    *      pays one read of the new DV files' distinct `_file` values. */
  def readAppendsSince(spark: SparkSession, tableDir: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    val fromUnits = snapshotUnits(tableDir, fromVersion)
    val fromRaw = fromUnits.filterNot(_.isDelete).map(_.raw).toSet
    val toAll = snapshotUnits(tableDir, toVersion)
    val toUnits = toAll.filterNot(_.isDelete)
    val missing = fromRaw -- toUnits.map(_.raw).toSet
    require(missing.isEmpty,
      s"readAppendsSince: span v$fromVersion..v$toVersion is not " +
        s"append-only (${missing.size} base units rewritten) — use " +
        "snapshotDiff for the general CDC read")
    // clause 4 (r13): the eq-delete line set must carry VERBATIM — a
    // new `=` line retracts pre-span rows the consumer already read
    // (like a MOR delete, but by key), and a dropped one (a restore to
    // a pre-delete version, or a compaction that paid the debt inside
    // a wider rewrite) resurrects them
    val fromEqRaw = fromUnits.filter(_.isEqDelete).map(_.raw).toSet
    val toEqRaw = toAll.filter(_.isEqDelete).map(_.raw).toSet
    require(fromEqRaw == toEqRaw,
      s"readAppendsSince: span v$fromVersion..v$toVersion changed the " +
        s"equality-delete set (${(fromEqRaw diff toEqRaw).size} dropped, " +
        s"${(toEqRaw diff fromEqRaw).size} added) — row visibility of " +
        "pre-span data changed; use snapshotDiff for the general CDC read")
    val fromDvRaw = fromUnits.filter(_.isDelete).map(_.raw).toSet
    val droppedDvs = fromDvRaw -- toAll.filter(_.isDelete).map(_.raw).toSet
    require(droppedDvs.isEmpty,
      s"readAppendsSince: span v$fromVersion..v$toVersion consolidated " +
        s"${droppedDvs.size} deletion vectors (a rewrite-class commit " +
        "ran inside the span) — use snapshotDiff for the general CDC read")
    val newDvs = toAll
      .filter(u => u.isDelete && !fromDvRaw.contains(u.raw)).map(_.ref)
    if (newDvs.nonEmpty && fromRaw.nonEmpty) {
      val baseFiles = fromUnits.filterNot(_.isDelete)
        .flatMap(_.entries.map(_.path))
      val mayHitBase = dvMaybeFiles(newDvs, baseFiles)
        .map(_.nonEmpty).getOrElse(true)
      if (mayHitBase) {
        val named = readParquet(spark, newDvs.map(_.path))
          .select(col(DvFileCol)).distinct()
          .collect().map(r => localPath(r.getString(0))).toSet
        val hit = named.intersect(baseFiles.map(localPath).toSet)
        require(hit.isEmpty,
          s"readAppendsSince: span v$fromVersion..v$toVersion added " +
            s"deletion vectors naming ${hit.size} base data files (a " +
            "merge-on-read delete/update of pre-span rows) — an " +
            "incremental consumer would double-count or keep retracted " +
            "rows; use snapshotDiff for the general CDC read")
      }
    }
    val added = toUnits.filterNot(u => fromRaw.contains(u.raw))
      .flatMap(_.entries.map(_.path))
    if (added.isEmpty)
      readSnapshot(spark, tableDir, 0,
        readSnapshot(spark, tableDir, toVersion).schema)
    else {
      // mapped tables: the incremental read presents LOGICAL names like
      // every other read surface (lenient — a live column absent from
      // every gained file is null there by evolution semantics)
      val mapping = columnMapping(tableDir, toVersion)
      logicalView(readFilesDv(spark, added,
        deleteEntries(tableDir, toVersion),
        mergeSchema = mapping.nonEmpty), mapping, lenient = true)
    }
  }

  private[graft] def localPath(p: String): String =
    if (p.startsWith("file:")) Paths.get(java.net.URI.create(p)).toString
    else p

  /** Metadata-only cost proxy of the span (`fromVersion`, `toVersion`]:
    * total recorded rows of the manifest units `to` carries and `from`
    * lacks — the added-side scan size of the incremental read (data
    * rows of new units plus positions of new deletion vectors). Read
    * entirely from manifest `_rows` bounds, no data file touched;
    * drives the streaming source's row-capped admission control. */
  def spanAddedRows(tableDir: String, fromVersion: Int,
      toVersion: Int): Long = {
    val fromRaw = snapshotUnits(tableDir, fromVersion).map(_.raw).toSet
    snapshotUnits(tableDir, toVersion)
      .filterNot(u => fromRaw.contains(u.raw))
      .flatMap(_.entries)
      .flatMap(_.bounds.get(RowsKey).map(_._1.toLong)).sum
  }

  /** Reserved bounds key carrying the file's ROW COUNT (lo = hi = n):
    * rides the same manifest field format, powers metadata-only
    * count(*) ([[snapshotRowCount]]), and is excluded from stats-col
    * inference (it is not a data column). */
  private val RowsKey = "_rows"

  /** Reserved bounds key carrying the file's on-disk BYTE SIZE
    * (lo = hi = bytes, r16): recorded once at commit (the
    * Iceberg/Delta `file_size_in_bytes` shape), so file LISTING —
    * [[graft.sources.GraftFileIndex]] synthesizing FileStatus for
    * Spark's split planning — is a pure manifest read with ZERO
    * filesystem metadata calls per query. Entries predating the key
    * fall back to one getFileStatus each (absence never lies). */
  private val BytesKey = "_bytes"

  /** Reserved bounds-key PREFIX for per-column NULL counts
    * (`_n.<col>` → lo = hi = nulls, r16): the Iceberg
    * `null_value_counts` shape, recorded in the same commit pass as
    * min/max. Powers null-aware file skipping on the execution path
    * ([[graft.sources.GraftFileIndex]]): `c IS NULL` skips files with
    * zero recorded nulls, `c IS NOT NULL` skips all-null files — and
    * since Spark injects IsNotNull for every filtered column, the
    * all-null skip fires on ordinary WHERE clauses. Summed into group
    * envelopes like row counts; absence never skips. */
  private val NullsPrefix = "_n."

  /** localPath → (rows, col → recorded null count) for the snapshot's
    * data files. Missing cols = unknown (never skip on absence). */
  def fileNullStats(tableDir: String, version: Int)
      : Map[String, (Long, Map[String, Long])] =
    dataUnits(tableDir, version).flatMap(_.entries).map { e =>
      val rows = e.bounds.get(RowsKey).map(_._1.toLong).getOrElse(-1L)
      val nulls = e.bounds.collect {
        case (k, (lo, _)) if k.startsWith(NullsPrefix) =>
          k.drop(NullsPrefix.length) -> lo.toLong
      }
      localPath(e.path) -> (rows, nulls)
    }.toMap

  /** localPath → recorded on-disk bytes for every data file of the
    * snapshot that carries the r16 `_bytes` stat. */
  def fileBytes(tableDir: String, version: Int): Map[String, Long] =
    dataUnits(tableDir, version).flatMap(_.entries).flatMap(e =>
      e.bounds.get(BytesKey).map(b =>
        localPath(e.path) -> b._1.toLong)).toMap

  // ---------------------------------------------------------------
  // Typed bounds (r14). The manifest's bounds field holds BigDecimal
  // pairs; non-numeric stats columns ride the SAME field through an
  // ORDER-PRESERVING encoding, so mayMatch/rangeFiles/boxFiles need
  // no second code path and old manifests parse unchanged:
  //   * strings → the first [[StrBoundBytes]] UTF-8 bytes as an
  //     unsigned big-endian integer, zero-padded on the right. This
  //     is Iceberg's truncate(L) bound semantics: truncation is
  //     monotone non-decreasing under Spark's string order (unsigned
  //     UTF-8 byte comparison), so `enc(v) < enc(fileMin)` proves
  //     `v < fileMin` and pruning stays SAFE — collisions beyond the
  //     prefix only keep extra files, never skip a matching one;
  //   * dates → epoch days; timestamps → epoch micros (both exact
  //     integers, total-ordered by construction);
  //   * booleans → 0/1; numbers → themselves (bit-identical with the
  //     pre-r14 encoding, so existing manifests keep their meaning).
  // Query-side values go through the same [[encodeBound]] before
  // every comparison against stored bounds — the one invariant the
  // scheme rests on.
  // ---------------------------------------------------------------

  /** String-bound truncation width (UTF-8 bytes). 12 bytes keep the
    * encoded integer < 2^96 — exact in BigDecimal — while separating
    * realistic sorted keys (URLs, ISO dates, id-prefixed names). */
  private val StrBoundBytes = 12

  /** Order-preserving BigDecimal encoding of a stats value — see the
    * design note above. Public: pruned-read callers must encode
    * probe values with the SAME map the manifest bounds used. */
  def encodeBound(v: Any): BigDecimal = v match {
    case n: java.math.BigDecimal => BigDecimal(n)
    case n: BigDecimal => n
    case n: Number => BigDecimal(n.toString)
    case s: String => encodeStringBound(s)
    case d: java.sql.Date => BigDecimal(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => BigDecimal(d.toEpochDay)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      BigDecimal(i.getEpochSecond) * 1000000 + i.getNano / 1000
    case t: java.time.Instant =>
      BigDecimal(t.getEpochSecond) * 1000000 + t.getNano / 1000
    case b: Boolean => if (b) BigDecimal(1) else BigDecimal(0)
    case other => throw new IllegalArgumentException(
      s"encodeBound: unsupported stats value type " +
        s"${other.getClass.getName} ($other)")
  }

  private def encodeStringBound(s: String): BigDecimal =
    encodeBytesBound(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0x00)

  /** First [[StrBoundBytes]] of `bytes` as an unsigned big-endian
    * integer, right-padded with `pad` (0x00 for lower bounds and
    * values, 0xFF for prefix upper bounds). */
  private def encodeBytesBound(bytes: Array[Byte], pad: Int): BigDecimal = {
    var acc = BigInt(0)
    var i = 0
    while (i < StrBoundBytes) {
      acc = (acc << 8) | (if (i < bytes.length) BigInt(bytes(i) & 0xff)
        else BigInt(pad))
      i += 1
    }
    BigDecimal(acc)
  }

  /** Upper end of the encoded interval covering every string with
    * `prefix`: the prefix's first [[StrBoundBytes]] bytes padded with
    * 0xFF. With [[encodeStringBound]]`(prefix)` as the lower end this
    * brackets a LIKE-'prefix%' probe in bound space (a prefix longer
    * than the truncation width degenerates to lo == hi — every
    * matching string shares the stored 12-byte bound). */
  def prefixUpperBound(prefix: String): BigDecimal =
    encodeBytesBound(
      prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0xff)

  /** Spec observability only: how many [[entriesFor]] calls were
    * served from parquet FOOTERS (no Spark job). */
  private[graft] val footerStatsHits = new java.util.concurrent.atomic.AtomicLong

  /** Control signal: a footer can't serve the requested stats exactly
    * — fall back to the distributed pass. */
  private object FooterUnsupported
    extends Exception(null, null, false, false)

  /** Commit statistics from parquet FOOTERS (r14) — the Iceberg move:
    * every parquet file already carries per-chunk min/max/row counts,
    * so a commit's bounds and `_rows` cost DRIVER METADATA READS, not
    * a Spark aggregation job over the new data. Returns None — and
    * the caller falls back to the distributed pass — whenever ANY
    * requested column in ANY file can't be served exactly:
    * INT96 timestamps (undefined sort order, Spark's default output
    * type), decimals, non-UTF8 binary, absent/unusable chunk stats.
    * Value decoding reproduces [[encodeBound]] bit-for-bit: INT32
    * dates ARE epoch days, INT64 TIMESTAMP(MICROS) IS the micros
    * encoding (MILLIS scales ×1000, NANOS floors /1000 — floor is
    * monotone so chunk maxes stay exact), UTF8 binary feeds the same
    * 12-byte truncation (parquet's own stats truncation only widens
    * bounds, which admits — never skips). All-null chunks contribute
    * nothing; an all-null file gets no bound for that column. */
  private def footerEntries(written: Seq[String], statsCols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Option[Seq[FileEntry]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    try {
      val out = written.map { f =>
        // fromPath stats the file once; reuse it for BytesKey below
        // instead of a second getFileStatus round trip per file
        val inFile = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = BigDecimal(blocks.map(_.getRowCount).sum)
          val bounds = scala.collection.mutable.Map[String,
            (BigDecimal, BigDecimal)](RowsKey -> (rows, rows))
          statsCols.foreach { c =>
            var lo: BigDecimal = null
            var hi: BigDecimal = null
            var nulls = 0L
            var nullsKnown = true
            blocks.foreach { b =>
              val chunk = b.getColumns.asScala.find(cc =>
                cc.getPath.size == 1 && cc.getPath.toDotString == c)
                .getOrElse(throw FooterUnsupported) // column missing: not ours to guess
              val st = chunk.getStatistics
              if (st == null || st.isEmpty) throw FooterUnsupported
              if (st.isNumNullsSet) nulls += st.getNumNulls
              else nullsKnown = false
              val allNull = st.isNumNullsSet &&
                st.getNumNulls == b.getRowCount
              if (!allNull) {
                if (!st.hasNonNullValue) throw FooterUnsupported
                val pt = chunk.getPrimitiveType
                val ann = pt.getLogicalTypeAnnotation
                def tsScale: Option[Long => BigDecimal] = ann match {
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    t.getUnit match {
                      case LogicalTypeAnnotation.TimeUnit.MICROS =>
                        Some(v => BigDecimal(v))
                      case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                        Some(v => BigDecimal(v) * 1000)
                      case LogicalTypeAnnotation.TimeUnit.NANOS =>
                        // floor to micros — monotone, matches the
                        // Instant.getNano / 1000 agg-path encoding
                        Some(v => BigDecimal(Math.floorDiv(v, 1000L)))
                      case _ => None
                    }
                  case _ if ann == null ||
                    ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
                    ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
                    Some(v => BigDecimal(v)) // plain ints; DATE = epoch days
                  case _ => None
                }
                def dec(v: Any): BigDecimal = pt.getPrimitiveTypeName match {
                  case INT32 => ann match {
                    case null => BigDecimal(v.asInstanceOf[Int])
                    case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation |
                      _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                      BigDecimal(v.asInstanceOf[Int])
                    case _ => throw FooterUnsupported
                  }
                  case INT64 =>
                    tsScale.getOrElse(throw FooterUnsupported)(v.asInstanceOf[Long])
                  case FLOAT =>
                    BigDecimal(v.asInstanceOf[Float].toString)
                  case DOUBLE =>
                    BigDecimal(v.asInstanceOf[Double].toString)
                  case BOOLEAN =>
                    if (v.asInstanceOf[Boolean]) BigDecimal(1)
                    else BigDecimal(0)
                  case BINARY if ann.isInstanceOf[
                    LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                    encodeBytesBound(v.asInstanceOf[
                      org.apache.parquet.io.api.Binary].getBytes, 0x00)
                  case _ => throw FooterUnsupported
                }
                val (mn, mx) = (dec(st.genericGetMin),
                  dec(st.genericGetMax))
                if (lo == null || mn < lo) lo = mn
                if (hi == null || mx > hi) hi = mx
              }
            }
            if (lo != null) bounds(c) = (lo, hi)
            if (nullsKnown) {
              val n = BigDecimal(nulls)
              bounds(s"$NullsPrefix$c") = (n, n)
            }
          }
          val len = BigDecimal(inFile.getLength)
          bounds(BytesKey) = (len, len)
          FileEntry(f, bounds.toMap)
        } finally reader.close()
      }
      footerStatsHits.incrementAndGet()
      Some(out)
    } catch { case FooterUnsupported => None
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Per-file statistics over freshly written files — min/max for
    * `statsCols` (numeric, string, date/timestamp or boolean — stored
    * through the order-preserving [[encodeBound]] map), a Bloom
    * filter of xxhash64 values for `bloomCols`, plus the per-file row
    * count. Served from parquet FOOTERS ([[footerEntries]] — driver
    * metadata reads, zero Spark jobs) whenever no blooms are needed
    * and every stats column decodes exactly; otherwise ONE distributed
    * pass over only the writer's own output (a metadata cost that
    * tracks the commit's data, never the table), grouped by the
    * parquet metadata file path. All-null files get no bounds for that
    * column (absent stats never skip). */
  private def entriesFor(spark: SparkSession, written: Seq[String],
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      derived: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : Seq[FileEntry] = {
    if (written.nonEmpty && bloomCols.isEmpty && derived.isEmpty)
      // the SESSION's Hadoop conf: a bare Configuration() would fail
      // (and silently fall back to the aggregate job) on any
      // credentialed or non-default filesystem. Derived
      // partition-transform bounds can't come from footers (the
      // transform value isn't a stored column), so a partitioned
      // append takes the one-pass aggregate below.
      footerEntries(written, statsCols,
        spark.sessionState.newHadoopConf()).foreach(es => return es)
    // the row count is ALWAYS recorded (Iceberg's rule): it powers
    // metadata-only count(*) and the DV accounting, and its cost is
    // one count pass over only the writer's own output
    if (written.isEmpty)
      return Seq.empty
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"_lo_$c"), max(col(c)).as(s"_hi_$c"),
        count(col(c)).as(s"_nn_$c"))) ++
      derived.flatMap { case (k, e) =>
        Seq(min(e).as(s"_lo_$k"), max(e).as(s"_hi_$k")) } ++
      bloomCols.map(c => toCol(new BloomFilterAggregate(
        toExpr(xxhash64(col(c))), Literal(1L << 12), Literal(1L << 15))
        .toAggregateExpression()).as(s"_bf_$c")) :+
      count(lit(1)).as("_nrows")
    val stats = readParquet(spark, written)
      .groupBy(col("_metadata.file_path").as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val bounds = (statsCols ++ derived.map(_._1)).flatMap { c =>
          (Option(r.getAs[Any](s"_lo_$c")), Option(r.getAs[Any](s"_hi_$c"))) match {
            case (Some(lo), Some(hi)) =>
              Some(c -> (encodeBound(lo), encodeBound(hi)))
            case _ => None
          }
        }.toMap + (RowsKey -> {
          val n = BigDecimal(r.getAs[Long]("_nrows"))
          (n, n)
        }) ++ statsCols.map { c =>
          val nulls = BigDecimal(r.getAs[Long]("_nrows") -
            r.getAs[Long](s"_nn_$c"))
          s"$NullsPrefix$c" -> (nulls, nulls)
        }
        val blooms = bloomCols.flatMap(c =>
          Option(r.getAs[Array[Byte]](s"_bf_$c")).map(c -> _)).toMap
        localPath(r.getAs[String]("_f")) -> (bounds, blooms)
      }.toMap
    val hconf = spark.sessionState.newHadoopConf()
    written.map { f =>
      // a file absent from the grouped stats holds ZERO rows (the
      // writer emitted a schema-only file for an empty partition): no
      // bounds/bloom, but its row count is known exactly
      val (bounds, blooms) = stats.getOrElse(f,
        (Map(RowsKey -> (BigDecimal(0), BigDecimal(0))),
          Map.empty[String, Array[Byte]]))
      val hp = new org.apache.hadoop.fs.Path(f)
      val len = BigDecimal(hp.getFileSystem(hconf).getFileStatus(hp).getLen)
      FileEntry(f, bounds + (BytesKey -> (len, len)), blooms)
    }
  }

  /** Stats columns a snapshot's manifest already tracks — rewrites and
    * compactions recompute these for the files they produce, so bounds
    * survive maintenance without the caller restating them. Derived
    * partition-transform bounds (`_p.` keys) are NOT stats columns:
    * [[writeFiles]] derives them from the spec in force at each write. */
  private def statsColsOf(entries: Seq[FileEntry]): Seq[String] =
    entries.flatMap(_.bounds.keys)
      .filterNot(k => k == RowsKey || k == SeqKey || k == FilesKey ||
        k == BytesKey || k.startsWith(NullsPrefix) ||
        k.startsWith(PartBoundPrefix))
      .distinct.sorted

  // ---------------------------------------------------------------
  // HIDDEN PARTITIONING (r15) — Iceberg's signature metadata idea,
  // re-expressed over this manifest: the table carries a PARTITION
  // SPEC (`#partition:days(ts),bucket(16,id)` metadata), appends
  // cluster their rows by the derived transform values
  // (repartitionByRange, so files hold tight transform ranges) and
  // record each file's derived bounds under reserved `_p.<transform>`
  // keys. Readers prune on those bounds STRUCTURALLY — a `days(ts)`
  // spec serves timestamp conjuncts without per-row stats, a
  // `bucket(n,k)` spec serves point probes — through the same
  // predFilesCnf machinery as column stats. The spec EVOLVES by
  // replacement ([[commitSetPartitionSpec]]): it applies to files
  // written AFTER the change; older files keep their old derived
  // keys, which a probe for a dropped transform no longer consults
  // and a probe for a new transform treats as absent (never skipped)
  // — exactly Iceberg's files-keep-their-spec semantics, without
  // per-file spec ids because the derived keys are self-describing.
  // Transforms (Iceberg spec v1 §Partition Transforms):
  //   identity(c)     the value itself
  //   days(c)         epoch days of a timestamp/date (UTC instants)
  //   bucket(n,c)     floorMod(xxhash64(value), n) — probe-compatible
  //                   with [[probeHash]] by construction
  //   truncate(w,c)   v - floorMod(v, w) on integers; first w chars
  //                   on strings (both order-preserving)
  // ---------------------------------------------------------------

  /** Reserved prefix of derived partition-transform bound keys. */
  val PartBoundPrefix = "_p."
  private val PartKey = "partition"

  final case class PartField(transform: String, col: String, arg: Int) {
    /** Manifest bound key — stable across spec evolutions, so a
      * re-added transform keeps pruning files written under the
      * earlier spec. */
    def key: String = transform match {
      case "identity" | "days" => s"$PartBoundPrefix$transform($col)"
      case _ => s"$PartBoundPrefix$transform($arg,$col)"
    }
    override def toString: String = transform match {
      case "identity" | "days" => s"$transform($col)"
      case _ => s"$transform($arg,$col)"
    }
  }

  private val partFieldRe =
    """(?i)\s*(identity|days|bucket|truncate)\s*\(\s*(?:(\d+)\s*,\s*)?([\w.]+)\s*\)\s*""".r

  def parsePartField(s: String): PartField = s match {
    case partFieldRe(t, arg, c) =>
      val tf = t.toLowerCase
      val n = Option(arg).map(_.toInt).getOrElse(0)
      require(tf == "identity" || tf == "days" || n > 0,
        s"partition transform $tf requires a positive argument: $s")
      require((tf != "bucket" && tf != "truncate") || arg != null,
        s"partition transform $tf requires an argument: $s")
      require((tf != "identity" && tf != "days") || arg == null,
        s"partition transform $tf takes no argument: $s")
      PartField(tf, c, n)
    case other =>
      throw new IllegalArgumentException(s"bad partition field: $other")
  }

  /** Top-level comma split — `bucket(4,k)` keeps its inner comma. */
  def splitSpecFields(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    s.indices.foreach { i =>
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
    }
    out += s.substring(start)
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** The spec in force at `version` (empty = unpartitioned). */
  def partitionSpec(tableDir: String, version: Int): Seq[PartField] =
    snapshotMeta(tableDir, version).get(PartKey)
      .map(splitSpecFields(_).map(parsePartField)).getOrElse(Seq.empty)

  /** EVERY transform the table has ever partitioned by — the union a
    * PRUNING probe consults (Iceberg evaluates scans against every
    * spec its manifests reference): a transform dropped by evolution
    * still prunes the files written under it, and files lacking a key
    * are never skipped by it. Writes use [[partitionSpec]] (the
    * current spec) — this union is read-side only. */
  def partitionSpecAll(tableDir: String, version: Int): Seq[PartField] = {
    val meta = snapshotMeta(tableDir, version)
    val fields = meta.get(PartHistKey).toSeq ++ meta.get(PartKey).toSeq
    fields.flatMap(splitSpecFields).map(parsePartField)
      .groupBy(_.key).map(_._2.head).toSeq.sortBy(_.key)
  }

  private val PartHistKey = "partition.history"

  /** Replace the partition spec — a METADATA-ONLY commit (every data
    * line carries forward verbatim). The new spec governs files
    * written by LATER commits only; nothing is rewritten. An empty
    * spec un-partitions. Works on an empty table (the CREATE …
    * PARTITIONED BY seed: version 1 is then pure metadata). */
  def commitSetPartitionSpec(tableDir: String,
      spec: Seq[PartField]): Committed =
    casCommit("commitSetPartitionSpec", tableDir, RescanBudget) { (base, _) =>
      val meta = snapshotMeta(tableDir, base)
      // history accumulates every transform ever in force (deduped by
      // key) so read-side pruning can keep serving files written
      // under superseded specs
      val hist = (meta.get(PartHistKey).toSeq ++ meta.get(PartKey).toSeq)
        .flatMap(splitSpecFields).map(parsePartField)
        .groupBy(_.key).map(_._2.head).toSeq.sortBy(_.key)
      val withHist =
        if (hist.isEmpty) meta - PartHistKey
        else meta + (PartHistKey -> hist.mkString(","))
      val newMeta =
        if (spec.isEmpty) withHist - PartKey
        else withHist + (PartKey -> spec.mkString(","))
      Publish(metaLines(newMeta) ++ snapshotUnits(tableDir, base).map(_.raw),
        dataUnits(tableDir, base).flatMap(_.entries).size, 0)
    }

  private val MicrosPerDay = 86400000000L

  /** Derived (bound key, transform expression) pairs for the spec
    * fields whose column exists in `df` with a transform-compatible
    * type — a field over an absent/incompatible column contributes
    * nothing (its files simply record no derived bound). `resolve`
    * maps the spec's logical column names to `df`'s (physical under
    * column mapping). The expressions are deterministic and
    * probe-compatible: bucket hashes through xxhash64 exactly like
    * [[probeHash]], days/truncate floor like the driver-side duals in
    * the pruning path. */
  def partitionExprs(spec: Seq[PartField], df: DataFrame,
      resolve: String => String = identity)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.types._
    spec.flatMap { pf =>
      df.schema.fields
        .find(_.name.equalsIgnoreCase(resolve(pf.col))).flatMap { f =>
          val c = col(f.name)
          (pf.transform, f.dataType) match {
            case ("identity", dt) if boundsEncodableType(dt) => Some(c)
            case ("days", TimestampType) =>
              // floorDiv via pmod: exact for negatives, stays integral
              Some(((unix_micros(c) -
                pmod(unix_micros(c), lit(MicrosPerDay))) /
                lit(MicrosPerDay)).cast("long"))
            case ("days", DateType) =>
              Some(datediff(c, to_date(lit("1970-01-01"))))
            case ("bucket", dt) if integral(dt) || dt == StringType =>
              Some(pmod(xxhash64(c), lit(pf.arg.toLong)))
            case ("truncate", dt) if integral(dt) =>
              Some(c - pmod(c, lit(pf.arg)))
            case ("truncate", StringType) =>
              Some(substring(c, 1, pf.arg))
            case _ => None
          }
        }.map(pf.key -> _)
    }
  }

  /** Exact-integer column types (bucket/truncate domain). */
  private[graft] def integral(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt == ByteType || dt == ShortType || dt == IntegerType ||
      dt == LongType
  }

  /** Types the manifest's bound encoding can hold. */
  private def boundsEncodableType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | StringType | DateType | TimestampType |
        BooleanType => true
      case _ => false
    }
  }

  /** Driver-side duals of [[partitionExprs]] for probe translation —
    * all in [[encodeBound]] space, all exact-integer arithmetic. */
  def dayOfMicros(micros: BigDecimal): BigDecimal = {
    val m = micros.toBigInt
    val d = MicrosPerDay
    val fd = (m - m.mod(BigInt(d))) / d
    BigDecimal(fd)
  }

  def truncateInt(v: BigDecimal, w: Int): BigDecimal = {
    val b = v.toBigInt
    BigDecimal(b - b.mod(BigInt(w)))
  }

  /** Bucket of a typed probe value — floorMod of the SAME xxhash64
    * the write expression uses ([[probeHash]] casts to the column's
    * stored type first, so the hash is bit-identical). */
  def bucketOf(value: Any,
      dt: org.apache.spark.sql.types.DataType, n: Int): Int =
    java.lang.Math.floorMod(probeHash(value, dt), n.toLong).toInt

  /** Partition-value inventory of a snapshot — the Iceberg
    * `partitions` metadata table: (transform, value, files, rows) per
    * distinct derived value, read from the manifest's `_p.` bounds
    * only (zero data files opened). A file spanning several values
    * (written before the spec) reports its range as "lo..hi". */
  def partitionValues(tableDir: String,
      version: Int): Seq[(String, String, Long, Long)] =
    snapshotEntries(tableDir, version).flatMap { e =>
      val rows = e.bounds.get(RowsKey).map(_._1.toLong).getOrElse(0L)
      e.bounds.toSeq.collect {
        case (k, (lo, hi)) if k.startsWith(PartBoundPrefix) =>
          val v =
            if (lo == hi) lo.bigDecimal.stripTrailingZeros.toPlainString
            else s"$lo..$hi"
          (k.drop(PartBoundPrefix.length), v, rows)
      }
    }.groupBy(t => (t._1, t._2)).toSeq.map { case ((t, v), g) =>
      (t, v, g.size.toLong, g.map(_._3).sum)
    }.sortBy(t => (t._1, t._2))

  /** Spec col name (logical) → the physical name at `base`. */
  private def physResolve(tableDir: String, base: Int): String => String =
    columnMapping(tableDir, base) match {
      case None => identity
      case Some(m) =>
        val byLogical = m.filter(_.live)
          .map(c => c.logical.toLowerCase -> c.physical).toMap
        n => byLogical.getOrElse(n.toLowerCase, n)
    }

  /** What [[writeFiles]] writes. */
  private sealed trait FileKind
  /** Data files, under the partition spec in force at `base`; `resolve`
    * maps the spec's logical column names to the frame's (null: the
    * physical names at `base`, [[physResolve]]). */
  private final case class DataFiles(base: Int,
      resolve: String => String = null) extends FileKind
  /** Deletion-vector and equality-key files: never split by the spec,
    * and a file holding no row is dropped, so a delete that matches
    * nothing yields no entry. */
  private case object DeleteFiles extends FileKind

  /** The one writer of table-owned parquet files — data, DV and
    * equality-key files alike. It writes `df` into a fresh
    * [[newDataDir]] and returns the [[entriesFor]] of what it wrote,
    * `statsCols`/`bloomCols` recorded per file.
    *
    * Data files follow the partition spec in force at their base:
    * they hive-split by the derived transform values over TEMPORARY
    * columns (auto-excluded from the files), range-clustered so each
    * file holds one partition tuple, and record the derived `_p.`
    * bounds, so every verb's output stays prunable by transform. The
    * split wins over any layout the caller declared.
    *
    * Otherwise one layout rule:
    *  - a frame whose optimized plan ends in a repartition or coalesce
    *    (looking through projections and a local sort) keeps the layout
    *    its caller declared: compaction's `coalesce(n)`, a bin's
    *    `coalesce(1)`, `WRITE ORDERED BY … INTO n FILES`, z-order;
    *  - else a frame the optimizer estimates at ≤ 16 MB writes ONE
    *    file. Without the rule a 32-partition plan holding a few
    *    hundred KB writes 32 near-empty files: 32 write tasks, 32
    *    footer reads at commit, 32 manifest entries and 32 file opens
    *    on every later read;
    *  - else the frame keeps its own partitioning.
    * The rule is safe at scale because the estimate errs the right
    * way: filters and joins never SHRINK sizeInBytes without CBO, and
    * an unknown size is Long.MaxValue, so a 100 TB write keeps its
    * parallelism and only provably small writes serialize. A plan with
    * a Generate is exempt: explode has no stats override (the default
    * visitor scales by row width, not multiplicity), so its estimate
    * can UNDERstate a fan-out, and coalesce(1) would also collapse the
    * per-row compute feeding the explode to one task. */
  private def writeFiles(spark: SparkSession, tableDir: String,
      df: DataFrame, kind: FileKind, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil): Seq[FileEntry] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate,
      LogicalPlan, Project, Repartition, RepartitionByExpression, Sort}
    val dir = newDataDir(tableDir)
    val derived = kind match {
      case DataFiles(base, resolve) => partitionExprs(
        partitionSpec(tableDir, base), df,
        Option(resolve).getOrElse(physResolve(tableDir, base)))
      case DeleteFiles => Nil
    }
    if (derived.isEmpty) {
      val plan = df.queryExecution.optimizedPlan
      def declared(p: LogicalPlan): Boolean = p match {
        case Project(_, c) => declared(c)
        case s: Sort if !s.global => declared(s.child)
        case _: Repartition | _: RepartitionByExpression => true
        case _ => false
      }
      val small = !declared(plan) && !plan.exists(_.isInstanceOf[Generate]) &&
        plan.stats.sizeInBytes <= (16L << 20)
      (if (small) df.coalesce(1) else df).write.parquet(dir)
    } else {
      val names = derived.indices.map(i => s"_pk$i")
      names.foreach(n => require(!df.columns.contains(n),
        s"reserved partition column name $n in input"))
      val keyed = derived.zip(names).foldLeft(df) {
        case (d, ((_, e), n)) => d.withColumn(n, e) }
      keyed.repartitionByRange(names.map(col): _*)
        .write.partitionBy(names: _*).parquet(dir)
    }
    val written = entriesFor(spark, parquetFilesUnder(dir), statsCols,
      bloomCols, derived)
    if (kind == DeleteFiles)
      written.filter(_.bounds.get(RowsKey).exists(_._1 > 0))
    else written
  }

  /** Metadata-only count(*): the snapshot's row count summed from the
    * manifest's per-file `_rows` stats — Iceberg's count pushdown, no
    * data file opened. None when any file predates row-count stats
    * (the honest answer beats a wrong fast one). */
  def snapshotRowCount(tableDir: String, version: Int): Option[Long] = {
    // group lines carry the SUMMED row count in their envelope, so the
    // common case is O(manifest lines) with no group file parsed; a
    // group predating row stats (no _rows on its line) falls back to
    // its per-file entries, and any file without a count → None.
    // deletion-vector lines SUBTRACT: every DV row references a live
    // file (rewrite-class commits consolidate), so visible rows =
    // data rows − DV rows, still metadata-only
    val units = snapshotUnits(tableDir, version)
    // an equality delete's row count is KEY TUPLES, not matched rows —
    // the exact visible count needs a scan, so the metadata answer is
    // honestly unknown (None) whenever one is present
    if (units.exists(_.isEqDelete)) return None
    val perUnit = units.map { u =>
      val sign = if (u.isDelete) -1L else 1L
      u.ref.bounds.get(RowsKey).map(_._1.toLong * sign).orElse {
        if (u.isDelete) None // a DV without a count can't subtract
        else {
          val counts = u.entries.flatMap(_.bounds.get(RowsKey))
          if (counts.size == u.entries.size)
            Some(counts.map(_._1.toLong).sum)
          else None
        }
      }
    }
    if (perUnit.forall(_.isDefined)) Some(perUnit.flatten.sum) else None
  }

  private def bloomColsOf(entries: Seq[FileEntry]): Seq[String] =
    entries.flatMap(_.blooms.keys).distinct.sorted

  /** One writer's immutable data-file directory for this table. Full
    * UUID: a truncated name colliding with an older commit's dir would
    * fold that commit's files into this one via [[parquetFilesUnder]]. */
  private def newDataDir(tableDir: String): String =
    s"$tableDir/data/${java.util.UUID.randomUUID()}"

  /** The parquet files under `dir`, including a partitioned write's
    * `_pk<i>=<value>` value directories. */
  private def parquetFilesUnder(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
  }

  /** Transactional append: write `df` once as immutable files, then
    * commit "current manifest + my files" ([[casCommit]]). The data
    * write never repeats; only the manifest union rebases.
    *
    * `statsCols` names columns (numeric, string, date/timestamp or
    * boolean — see [[encodeBound]]) whose per-file min/max land in
    * the manifest (one extra pass over ONLY the new files) — the
    * bounds that [[readSnapshotRange]]/[[readSnapshotRangeOf]]/
    * [[readSnapshotPrefix]] prune on.
    *
    * `txn = Some((streamId, batchId))` makes the append IDEMPOTENT per
    * stream: the manifest records each stream's highest committed
    * batchId as `#txn.<streamId>:<id>` metadata, and a replay of an
    * already-committed batch (a restarted streaming query re-offering
    * its last epoch) returns `skipped = true` without writing a byte.
    * Every attempt re-checks, so of two racing attempts of the SAME
    * batch one wins and the other skips — the exactly-once
    * foreachBatch sink contract. */
  def commitAppend(spark: SparkSession, tableDir: String, df: DataFrame,
      statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      bloomCols: Seq[String] = Nil): Committed =
    writeAndCommit("commitAppend", spark, tableDir, df, statsCols,
      bloomCols, txn, carryBase = true)

  /** The body of [[commitAppend]] and [[commitOverwrite]]: write `df`
    * once under the spec and column mapping in force at the pre-write
    * version, then CAS-commit one group line of its files — after the
    * base's units when `carryBase`, alone (replacing them) otherwise.
    * Manifest meta carries forward with the extended mapping and the
    * txn watermark. */
  private def writeAndCommit(verb: String, spark: SparkSession,
      tableDir: String, df: DataFrame, statsCols: Seq[String],
      bloomCols: Seq[String], txn: Option[(String, Long)],
      carryBase: Boolean): Committed = {
    val pre = currentVersion(tableDir)
    val preMeta = snapshotMeta(tableDir, pre)
    if (alreadyIn(txn, preMeta)) Committed(pre, 0, 0, 0, skipped = true)
    else {
      // column-mapped tables: the frame arrives under LOGICAL names —
      // write its files under the frozen physical names, minting fresh
      // ids/physical names for columns the mapping has never seen
      val (physDf, newMapping) = appendPhysical(tableDir, pre, df)
      val toPhysName: String => String = newMapping match {
        case None => identity
        case Some(m) =>
          val byLogical = m.filter(_.live)
            .map(c => c.logical -> c.physical).toMap
          n => byLogical.getOrElse(n, n)
      }
      // hidden partitioning (r15): the spec's split and derived bounds
      // resolve through the extended mapping; the user never sees the
      // derived columns
      val mine = writeFiles(spark, tableDir, physDf,
        DataFiles(pre, toPhysName), statsCols.map(toPhysName),
        bloomCols.map(toPhysName))
      val mineLines = groupLines(tableDir, mine)
      casCommit(verb, tableDir, RelistBudget) { (base, conflicts) =>
        val meta = snapshotMeta(tableDir, base)
        if (alreadyIn(txn, meta)) // lost the race to a twin of the same batch
          Skip(Committed(base, 0, 0, conflicts, skipped = true))
        else {
          // the files were written under `pre`'s mapping — a concurrent
          // rename/drop would silently misfile them, so fail loudly
          // rather than publish under a mapping the data doesn't match
          require(base == pre || meta.get(ColsKey) == preMeta.get(ColsKey),
            s"$verb on $tableDir raced a column-evolution commit — " +
              "retry against the new schema")
          val newMeta = withTxn(newMapping.fold(meta)(m =>
            meta + (ColsKey -> colsValue(m))), txn)
          // carried base lines (group refs or legacy flat entries) are
          // never parsed: commit metadata cost tracks this commit's
          // files, not the table's
          val carried =
            if (carryBase) snapshotUnits(tableDir, base).map(_.raw) else Nil
          Publish(metaLines(newMeta) ++ carried ++ mineLines, 0, mine.size)
        }
      }
    }
  }

  /** SaveMode.Overwrite / INSERT OVERWRITE as ONE committed version:
    * the frame's files REPLACE every prior unit — data, DV and
    * eq-delete lines all drop, so the new snapshot's visible rows are
    * exactly `df`'s. Prior versions keep referencing their files
    * (time travel spans the overwrite; vacuum owns retention), and
    * manifest METADATA carries forward — txn watermarks, partition
    * spec, column mapping — so an overwrite rewinds content, not
    * transactional state, mirroring [[commitRestore]]'s rule. The
    * frame lands through the same spec-clustered write as append
    * (hidden partitioning stays in force). */
  def commitOverwrite(spark: SparkSession, tableDir: String,
      df: DataFrame,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Committed =
    writeAndCommit("commitOverwrite", spark, tableDir, df, statsCols,
      bloomCols, txn, carryBase = false)

  /** Delta RESTORE / Iceberg rollback-to-snapshot: a NEW committed
    * version whose content is exactly `toVersion`'s — the restored
    * units' manifest lines carry forward VERBATIM, so the operation
    * is pure metadata (zero data files written, copied or even
    * listed; no SparkSession in the signature because none is
    * needed). History is preserved: the rolled-back versions stay
    * queryable by version/timestamp travel and the restore itself is
    * an auditable commit in `table_snapshots`. Current META carries
    * forward — restore rewinds content, not transactional state, so
    * streaming-sink txn watermarks survive a rollback and replayed
    * epochs still skip. Downstream semantics follow from the span
    * shape: an append-mode subscriber refuses a restore that dropped
    * units (rewrite-class, correctly), the change feed emits it as
    * row-level deltas. */
  def commitRestore(tableDir: String, toVersion: Int): Committed = {
    // Validate BEFORE touching the manifest: an out-of-range target
    // must surface as the contract's IllegalArgumentException, not a
    // NoSuchFileException from snapshotUnits (each attempt re-checks
    // against its own base).
    val initialBase = currentVersion(tableDir)
    require(toVersion >= 1 && toVersion <= initialBase,
      s"commitRestore: version $toVersion outside committed " +
        s"versions [1, $initialBase] of $tableDir")
    // in-range is not enough: expire_snapshots may have dropped the
    // target's manifest — fail validated, not with a NoSuchFileException
    require(availableVersions(tableDir).contains(toVersion),
      s"commitRestore: version $toVersion of $tableDir expired " +
        "(its manifest was dropped by retention) — cannot restore " +
        "past the retention horizon")
    val restored = snapshotUnits(tableDir, toVersion).map(_.raw)
    casCommit("commitRestore", tableDir, RescanBudget) { (base, _) =>
      require(toVersion >= 1 && toVersion <= base,
        s"commitRestore: version $toVersion outside committed " +
          s"versions [1, $base] of $tableDir")
      Publish(metaLines(snapshotMeta(tableDir, base)) ++ restored,
        restored.size, 0)
    }
  }

  // ---------------------------------------------------------------
  // COLUMN MAPPING — RENAME/DROP COLUMN as zero-rewrite metadata
  // (Iceberg v2 field-ids / Delta column-mapping shape). The manifest
  // meta key `_cols` holds an ordered list `id=physical=logical`:
  //   * `physical` is the name FROZEN into parquet files at the
  //     column's first write and never changes — renames touch only
  //     the logical name, so no data file is rewritten and files
  //     written before and after a rename stay one coherent scan;
  //   * `logical` is the user-facing name; `-` marks a DROPPED column
  //     (a tombstone — kept so its physical name stays reserved and a
  //     later re-add of the same logical name gets a FRESH physical
  //     name, which is exactly what stops old files' data from
  //     resurrecting under the re-added column);
  //   * readers project live ids in mapping order (physical → logical)
  //     as of the VERSION BEING READ, so time travel to a pre-rename/
  //     pre-drop snapshot reproduces the old shape with its data.
  // Tables that never evolve carry no `_cols` and take none of these
  // paths — zero regression. The mapping materializes lazily at the
  // first rename/drop (identity over the then-current schema).
  // ---------------------------------------------------------------

  private val ColsKey = "_cols"

  final case class ColMap(id: Int, physical: String, logical: String) {
    def live: Boolean = logical != "-"
  }

  private def parseCols(v: String): Seq[ColMap] =
    v.split(",").iterator.filter(_.nonEmpty).map { e =>
      val Array(i, p, l) = e.split("=", 3)
      ColMap(i.toInt, p, l)
    }.toSeq

  private def colsValue(m: Seq[ColMap]): String =
    m.map(c => s"${c.id}=${c.physical}=${c.logical}").mkString(",")

  /** The column mapping a snapshot was committed under, if it has
    * evolved (public: table_info-class introspection reads it). */
  def columnMapping(tableDir: String, version: Int): Option[Seq[ColMap]] =
    snapshotMeta(tableDir, version).get(ColsKey).map(parseCols)

  /** Names land in manifest meta (`,`/`=`-separated) and parquet
    * schemas — reject the separators and the tombstone marker. */
  private def requireMappable(n: String): Unit =
    require(n.nonEmpty && n != "-" &&
      !n.exists(c => c == ',' || c == '=' || c == ':'),
      s"column name '$n' cannot participate in column mapping " +
        "(reserved characters , = : or tombstone marker)")

  /** Physical frame → the mapping's logical view: live columns in
    * mapping order under their logical names, plus `extra` passthrough
    * columns (provenance tags like __file/__pos). Dropped columns'
    * physical data is excluded here — that's the whole drop.
    * `lenient` is for PARTIAL-file reads (diff sides, incremental
    * spans) where a live column can be physically absent from every
    * file read — its values there are null by evolution semantics, so
    * the column is skipped and the consumer restores it via
    * `unionByName(allowMissingColumns = true)`; full-snapshot reads
    * stay strict (a missing live column there is corruption and must
    * fail loudly). */
  private def logicalView(df: DataFrame, mapping: Option[Seq[ColMap]],
      extra: Seq[String] = Nil, lenient: Boolean = false): DataFrame =
    mapping match {
      case None => df
      case Some(m) =>
        val live = m.filter(_.live)
        val have = df.columns.toSet
        val kept = if (lenient) live.filter(c => have(c.physical)) else live
        df.select(kept.map(c =>
          col(c.physical).as(c.logical)) ++ extra.map(col): _*)
    }

  /** Visible read for FULL-REWRITE maintenance verbs (compact /
    * cluster / bin-pack): under a mapping, mergeSchema surfaces every
    * live physical column across pre-/post-evolution files and the
    * rewrite PAYS the evolution debt — tombstoned (dropped) columns
    * stay out of the new files, exactly like DV/eq-delete debt. The
    * frame stays PHYSICAL (maintenance never changes user-facing
    * names). Identity-shaped for never-evolved tables. */
  private def maintenanceRead(spark: SparkSession, tableDir: String,
      base: Int, keep: FileEntry => Boolean = _ => true): DataFrame = {
    val mapping = columnMapping(tableDir, base)
    val visible = readUnitsVisible(spark, tableDir,
      dataUnits(tableDir, base), deleteEntries(tableDir, base),
      eqDeleteUnits(tableDir, base), mergeSchema = mapping.nonEmpty,
      keep = keep)
    mapping match {
      case Some(m) =>
        val have = visible.columns.toSet
        visible.select(m.filter(c => c.live && have(c.physical))
          .map(c => col(c.physical)): _*)
      case None => visible
    }
  }

  /** Logical frame → physical column names for a data-file write.
    * Columns outside the mapping pass through unchanged (commitAppend
    * extends the mapping for them before calling this). */
  private def toPhysical(df: DataFrame, mapping: Option[Seq[ColMap]])
      : DataFrame = mapping match {
    case None => df
    case Some(m) =>
      val byLogical = m.filter(_.live).map(c => c.logical -> c.physical).toMap
      df.select(df.columns.map(c =>
        col(c).as(byLogical.getOrElse(c, c))).toIndexedSeq: _*)
  }

  /** Current mapping, materializing the lazy identity mapping from the
    * snapshot's physical schema on first evolution. */
  private def mappingOrIdentity(spark: SparkSession, tableDir: String,
      base: Int): Seq[ColMap] =
    columnMapping(tableDir, base).getOrElse {
      val files = snapshotFiles(tableDir, base)
      require(files.nonEmpty,
        s"column evolution on $tableDir needs a committed schema " +
          "(empty table — no physical columns to map)")
      val phys = filesSchema(spark, files, mergeSchema = true).fieldNames.toSeq
      phys.foreach(requireMappable)
      phys.zipWithIndex.map { case (p, i) => ColMap(i + 1, p, p) }
    }

  /** Publish a metadata-only commit carrying every base line verbatim
    * with the `_cols` meta replaced by `edit` of the base's mapping —
    * the shared shape of rename/drop (zero data files written, copied
    * or listed). `edit` runs (and checks) against every attempt's own
    * base, so a retry never republishes a mapping another commit has
    * since changed. */
  private def commitColsMeta(spark: SparkSession, tableDir: String)(
      edit: Seq[ColMap] => Seq[ColMap]): Committed =
    casCommit("column-evolution commit", tableDir, RescanBudget) {
      (base, _) =>
        val mapping = edit(mappingOrIdentity(spark, tableDir, base))
        Publish(metaLines(snapshotMeta(tableDir, base) +
          (ColsKey -> colsValue(mapping))) ++
          snapshotUnits(tableDir, base).map(_.raw),
          dataUnits(tableDir, base).flatMap(_.entries).size, 0)
    }

  /** `ALTER TABLE … RENAME COLUMN from TO to` at the snapshot layer:
    * pure metadata (the physical name stays frozen in every file). */
  def commitRenameColumn(spark: SparkSession, tableDir: String,
      from: String, to: String): Committed = {
    requireMappable(to)
    commitColsMeta(spark, tableDir) { m =>
      require(m.exists(c => c.live && c.logical == from),
        s"RENAME COLUMN: no live column '$from' in $tableDir")
      require(!m.exists(c => c.live && c.logical == to),
        s"RENAME COLUMN: target name '$to' already exists in $tableDir")
      m.map(c => if (c.live && c.logical == from) c.copy(logical = to)
                 else c)
    }
  }

  /** `ALTER TABLE … DROP COLUMN name`: the id becomes a tombstone —
    * zero rewrite, data stays in files for time travel, and the
    * reserved physical name keeps a later re-add from resurrecting it. */
  def commitDropColumn(spark: SparkSession, tableDir: String,
      name: String): Committed =
    commitColsMeta(spark, tableDir) { m =>
      require(m.exists(c => c.live && c.logical == name),
        s"DROP COLUMN: no live column '$name' in $tableDir")
      require(m.count(_.live) > 1,
        s"DROP COLUMN: '$name' is the last live column of $tableDir")
      m.map(c => if (c.live && c.logical == name) c.copy(logical = "-")
                 else c)
    }

  /** commitAppend's mapping step: rename `df` to physical names,
    * extending the mapping with FRESH ids/physical names for columns
    * the mapping has never seen (the evolved-append path; a re-added
    * previously-dropped name gets a new physical name — old data does
    * not resurrect). Returns (physical df, updated mapping or None
    * when the table has never evolved). */
  private def appendPhysical(tableDir: String, base: Int, df: DataFrame)
      : (DataFrame, Option[Seq[ColMap]]) =
    columnMapping(tableDir, base) match {
      case None => (df, None)
      case Some(m) =>
        val liveLogicals = m.filter(_.live).map(_.logical).toSet
        val taken = scala.collection.mutable.Set.empty[String] ++=
          m.map(_.physical)
        var nextId = m.map(_.id).max
        val added = df.columns.filterNot(liveLogicals.contains).map { c =>
          requireMappable(c)
          nextId += 1
          // mint a physical name free of EVERY recorded physical —
          // including user columns that happen to be named like a
          // suffixed mint (`x_3`): keep bumping the suffix until clear
          var phys = c
          var suffix = nextId
          while (taken.contains(phys)) {
            phys = s"${c}_$suffix"
            suffix += 1
          }
          taken += phys
          ColMap(nextId, phys, c)
        }.toSeq
        val updated = m ++ added
        (toPhysical(df, Some(updated)), Some(updated))
    }

  /** Transactional copy-on-write update: rows of the current snapshot
    * matching `cond` are replaced by `update` applied to them; files
    * with NO matching row are reused byte-for-byte. A lost attempt's
    * data files become unreferenced orphans: never visible to any
    * reader (no manifest names them), reclaimed by [[vacuum]]. */
  def commitRewrite(spark: SparkSession, tableDir: String, cond: Column,
      update: DataFrame => DataFrame,
      mergeSchema: Boolean = false,
      candidates: (Int, Seq[String]) = null): Committed =
    casCommit("commitRewrite", tableDir, RescanBudget) { (base, _) =>
      val units = dataUnits(tableDir, base)
      val dvs = deleteEntries(tableDir, base)
      val eqs = eqDeleteUnits(tableDir, base)
      val entries = units.flatMap(_.entries)
      require(entries.nonEmpty, s"commitRewrite on empty table $tableDir")
      // manifest-pruned candidates (r14): when the caller proved —
      // from bounds, against a SPECIFIC version — that only these
      // files can hold matching rows, job 1 scans only them. Deletes
      // only remove rows, so visible matches ⊆ raw matches ⊆ the
      // bound-matching files. A retry against a NEWER base drops the
      // hint (it was proved for another manifest), never reuses it.
      val candSet = candidateKeep(candidates, base)
      // job 1: which files contain matching VISIBLE rows (file-
      // granularity pruning via the scan's position identity — one
      // distributed pass, a manifest-sized collect); DV'd positions
      // and eq-deleted rows are already filtered out, so a file whose
      // only matches are deleted rows is not rewritten. cond and
      // `update` see the LOGICAL view (identity for un-evolved tables).
      val mapping = columnMapping(tableDir, base)
      val merge = mergeSchema || mapping.nonEmpty
      // the FULL visible read stays the schema anchor (job 2's
      // backfill shape must not depend on which files were scanned);
      // lazy — with an empty candidate set it is never even analyzed
      lazy val snap = readUnitsVisible(spark, tableDir, units, dvs, eqs,
        mergeSchema = merge, tagged = true)
      def findTouched(read: DataFrame): Set[String] =
        logicalView(read, mapping, extra = Seq("__file"))
          .where(cond)
          .select(col("__file").as("f"))
          .distinct().collect().map(r => localPath(r.getString(0))).toSet
      val touched = candSet match {
        case Some(cs) if cs.isEmpty => Set.empty[String]
        case Some(cs) => findTouched(readUnitsVisible(spark, tableDir,
          units, dvs, eqs, mergeSchema = merge, tagged = true,
          // anchored to the FULL schema: cond may reference an evolved
          // column that none of the candidate files carries
          anchor = if (merge) org.apache.spark.sql.types.StructType(
            snap.schema.filterNot(f =>
              f.name == "__file" || f.name == "__pos")) else null,
          keep = e => cs.contains(localPath(e.path))))
        case None => findTouched(snap)
      }
      val rewritten = entries.count(e => touched.contains(localPath(e.path)))
      val written = if (rewritten == 0) Seq.empty[FileEntry] else {
        // job 2: rewrite ONLY the touched files; non-matching rows in
        // them ride through unchanged; their bounds recompute so
        // data skipping survives the update. Under mergeSchema the
        // read is anchored to the FULL snapshot schema so files
        // predating an evolved append rewrite with the newer columns
        // present (as null) — the backfill path.
        val dataSchema = org.apache.spark.sql.types.StructType(
          snap.schema.filterNot(f =>
            f.name == "__file" || f.name == "__pos"))
        // the rewrite bakes applicable eq-deletes into its output
        // (per-unit seq-aware): the new files carry THIS commit's
        // sequence, so the carried `=` lines no longer apply to them —
        // only to the files the rewrite didn't touch
        val in = logicalView(readUnitsVisible(spark, tableDir, units,
          dvs, eqs,
          anchor = if (merge) dataSchema else null,
          keep = e => touched.contains(localPath(e.path))), mapping)
        val phys = toPhysical(
          update(in.where(cond)).unionByName(in.where(!coalesce(cond,
            lit(false)))), mapping)
        writeFiles(spark, tableDir, phys, DataFiles(base),
          statsColsOf(entries), bloomColsOf(entries))
      }
      Publish(cowLines(spark, tableDir, base, units, dvs, touched, written),
        entries.size - rewritten, written.size)
    }

  /** Committed compaction — q196's maintenance verb as a TRANSACTION:
    * the current snapshot's files rewrite into `nFiles` coalesced
    * files (coalesce, not repartition: compaction is IO-bound, no
    * exchange) and the new manifest CAS-commits as the next version.
    * Content is untouched (the q237 oracle pins it); prior snapshots
    * keep reading the OLD files, so time travel spans maintenance. */
  def commitCompact(spark: SparkSession, tableDir: String,
      nFiles: Int): Committed =
    casCommit("commitCompact", tableDir, RescanBudget) { (base, _) =>
      val entries = snapshotEntries(tableDir, base)
      val files = entries.map(_.path)
      require(files.nonEmpty, s"commitCompact on empty table $tableDir")
      // VISIBLE-row input: compaction PAYS the merge-on-read debt —
      // DV positions and eq-delete matches bake into the rewrite and
      // neither `!` nor `=` lines carry into the new manifest; under a
      // column mapping, maintenanceRead also surfaces evolved columns
      // (mergeSchema) and drops tombstoned ones. Under a partition
      // spec, the compacted layout is one file per live partition
      // tuple, whatever `nFiles` asks
      val written = writeFiles(spark, tableDir,
        maintenanceRead(spark, tableDir, base).coalesce(nFiles),
        DataFiles(base), statsColsOf(entries), bloomColsOf(entries))
      Publish(metaLines(snapshotMeta(tableDir, base)) ++
        groupLines(tableDir, written), 0, written.size)
    }

  /** Orphan GC: drop every manifest older than the last
    * `keepVersions`, then delete data files no RETAINED manifest
    * references (lost-race leftovers, files only dropped snapshots
    * used). Deletion order is the safe one — manifests first, so no
    * reader can open a snapshot whose files are about to go; a crash
    * between the two phases leaves only harmless extra data files.
    *
    * `graceMs` protects IN-FLIGHT writers: a concurrent commit writes
    * its data files BEFORE winning the CAS, and during that window
    * they are referenced by no manifest — indistinguishable from
    * orphans by reference-counting alone. Files younger than the grace
    * window are therefore never deleted (the Iceberg/Delta retention
    * rule); pass 0 only when no writer can be live.
    * Returns (manifests dropped, data files deleted). */
  def vacuum(tableDir: String, keepVersions: Int,
      graceMs: Long = 10L * 60 * 1000): (Int, Int) = {
    require(keepVersions >= 1, "must retain at least the current version")
    val cur = currentVersion(tableDir)
    val keepFrom = math.max(1, cur - keepVersions + 1)
    // live BRANCH manifests pin their staged files too: a batch parked
    // on a branch awaiting audit must survive any number of vacuums
    // until it publishes or drops
    val staged = Option(manifestDir(tableDir).toFile.listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("^branch-[A-Za-z0-9_-]+\\.manifest$"))
      .flatMap(f => new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
        .map(l => parseEntry(l).path))
    // TAGS pin their version outside the horizon (r15): a tagged
    // manifest and everything it references survive however old —
    // dropping the tag releases them to the next vacuum
    val pinned = listTags(tableDir).map(_._2).toSet
    // live BRANCH FORKS pin every file any of their versions
    // reference — including parent files their seed carries, which
    // the parent horizon may otherwise drop (r15)
    val branchUnits = listBranchForks(tableDir).flatMap { b =>
      val bd = branchForkDir(tableDir, b)
      availableVersions(bd).flatMap(v => snapshotUnits(bd, v))
    }
    // enumerate SURVIVING manifests only: a prior expire may already
    // have dropped part of the [keepFrom, cur) range
    val retainedUnits = availableVersions(tableDir)
      .filter(v => v >= keepFrom || pinned(v))
      .flatMap(v => snapshotUnits(tableDir, v)) ++ branchUnits
    val retained = (retainedUnits.flatMap(_.entries.map(_.path)) ++
      retainedUnits.filter(u => u.isDelete || u.isEqDelete)
        .map(_.ref.path) ++
      staged).toSet
    // group files referenced by any retained manifest stay; the rest
    // (dropped versions' groups, lost-race leftovers) are orphans
    val retainedGroups = retainedUnits.filter(_.isGroup)
      .map(_.ref.path).toSet
    val dropped = (1 until keepFrom).filterNot(pinned)
      .count(v => Files.deleteIfExists(manifestPath(tableDir, v)))
    val cutoff = System.currentTimeMillis() - graceMs
    val dataRoot = new java.io.File(s"$tableDir/data")
    var deleted = 0
    Option(groupsDir(tableDir).toFile.listFiles())
      .getOrElse(Array.empty).foreach { g =>
        if (!retainedGroups.contains(g.getPath) && g.isFile &&
            g.lastModified < cutoff) g.delete()
      }
    // recursive: partitioned writes (r15) nest files under
    // `_pk<i>=<value>` directories inside the writer dir
    def sweep(d: java.io.File): Unit = {
      Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory) sweep(f)
        else if (!retained.contains(f.getPath) &&
            f.lastModified < cutoff) {
          val isData = f.getName.endsWith(".parquet")
          if (f.delete() && isData) deleted += 1
        }
      }
      // a dir whose files are all gone is itself garbage
      if (Option(d.listFiles()).forall(_.isEmpty)) d.delete()
    }
    Option(dataRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).foreach(sweep)
    (dropped, deleted)
  }

  /** Time-horizon retention (r15): expire every version whose commit
    * timestamp — the `_ts` manifest stamp, the SAME clock TIMESTAMP
    * AS OF resolves against — is strictly older than
    * `olderThanMillis`; the current version always survives, and a
    * version without a stamp is RETAINED (never delete what can't be
    * dated). Delegates to [[vacuum]], so time travel past the horizon
    * fails loudly exactly like count-based expiry. */
  def vacuumOlderThan(tableDir: String, olderThanMillis: Long,
      graceMs: Long = 10L * 60 * 1000): (Int, Int) = {
    val cur = currentVersion(tableDir)
    val keepFrom = availableVersions(tableDir).find(v =>
      v == cur || snapshotTimestamp(tableDir, v)
        .forall(_ >= olderThanMillis)).getOrElse(cur)
    vacuum(tableDir, keepVersions = cur - keepFrom + 1, graceMs)
  }

  /** Manifest-level file skipping: the data files of `version` whose
    * `[min,max]` bounds for `column` intersect `[lo,hi]`, plus every
    * file with no recorded bounds (absence never skips). Pure metadata
    * — no Spark job, no file listing. */
  def rangeFiles(tableDir: String, version: Int, column: String,
      lo: BigDecimal, hi: BigDecimal): Seq[String] = {
    val box = Seq((column, lo, hi))
    // two-level prune: groups whose aggregated envelope misses the
    // range are skipped WITHOUT parsing their group file — planning
    // cost is O(groups + files of surviving groups), not O(files)
    dataUnits(tableDir, version).filter(_.mayMatch(box))
      .flatMap(_.entries).filter(_.bounds.get(column)
        .forall { case (mn, mx) => mx >= lo && mn <= hi }).map(_.path)
  }

  /** Planning statistics for a range read, O(manifest lines):
    * (units total, units expanded, files kept, files total) — files
    * total from the group envelopes' `_files` count, never by
    * expansion. The observable the q256 entry pins: how much metadata
    * a pruned read actually touched. */
  def rangeStats(tableDir: String, version: Int, column: String,
      lo: BigDecimal, hi: BigDecimal): (Int, Int, Int, Int) = {
    val units = dataUnits(tableDir, version)
    val expanded = units.filter(_.mayMatch(Seq((column, lo, hi))))
    val kept = expanded.flatMap(_.entries).filter(_.bounds.get(column)
      .forall { case (mn, mx) => mx >= lo && mn <= hi })
    val total = units.map(u =>
      if (!u.isGroup) 1
      else u.ref.bounds.get(FilesKey).map(_._1.toInt)
        .getOrElse(u.entries.size)).sum
    (units.size, expanded.size, kept.size, total)
  }

  /** Range read with manifest pruning: only files surviving
    * [[rangeFiles]] are handed to the scan, then the exact predicate
    * applies as the residual filter (bounds are necessary, not
    * sufficient). At 100 TB this is the difference between opening a
    * sorted table's every file and opening the handful covering the
    * key range — before parquet row-group pruning even starts. */
  /** Eq-delete-aware variant of a PRUNED read: with no equality
    * deletes this is exactly one readFilesDv over `files` (the
    * pre-r13 plan, untouched); with them, the pruned files group by
    * their owning unit's sequence so the applicable deletes anti-join
    * per group (group re-expansion is paid only on eq-carrying
    * tables). */
  private def readPrunedVisible(spark: SparkSession, tableDir: String,
      version: Int, files: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val dvs = deleteEntries(tableDir, version)
    val eqs = eqDeleteUnits(tableDir, version)
    if (eqs.isEmpty) readFilesDv(spark, files, dvs, mergeSchema)
    else {
      val wanted = files.map(localPath).toSet
      readUnitsVisible(spark, tableDir, dataUnits(tableDir, version),
        dvs, eqs, mergeSchema = mergeSchema,
        keep = e => wanted.contains(localPath(e.path)))
    }
  }

  /** Logical → frozen physical column name at `version` (identity for
    * never-evolved tables) — pruned reads consult manifest stats, and
    * stats are keyed by the names actually written into files. */
  private def physName(tableDir: String, version: Int,
      column: String): String =
    columnMapping(tableDir, version)
      .flatMap(_.find(c => c.live && c.logical == column).map(_.physical))
      .getOrElse(column)

  /** Public logical→physical translation (r14): what external pruned
    * reads ([[predFiles]] callers) must key manifest stats with. */
  def physicalName(tableDir: String, version: Int, column: String): String =
    physName(tableDir, version, column)

  def readSnapshotRange(spark: SparkSession, tableDir: String,
      version: Int, column: String, lo: BigDecimal, hi: BigDecimal): DataFrame = {
    val mapping = columnMapping(tableDir, version)
    val phys = physName(tableDir, version, column)
    val files = rangeFiles(tableDir, version, phys, lo, hi)
    val residual = col(phys) >= lit(lo) && col(phys) <= lit(hi)
    if (files.nonEmpty)
      logicalView(readPrunedVisible(spark, tableDir, version, files,
        mergeSchema = mapping.nonEmpty).where(residual), mapping)
    else readSnapshot(spark, tableDir, 0,
      readSnapshot(spark, tableDir, version).schema)
  }

  /** TYPED range read (r14): like [[readSnapshotRange]] but `lo`/`hi`
    * are values of the column's own type (string, date, timestamp,
    * boolean or numeric). Pruning compares in [[encodeBound]] space —
    * the same map the manifest bounds were stored through — while the
    * residual filter applies the ORIGINAL typed values, so truncated
    * string bounds can only admit extra files, never alter results. */
  def readSnapshotRangeOf(spark: SparkSession, tableDir: String,
      version: Int, column: String, lo: Any, hi: Any): DataFrame = {
    val mapping = columnMapping(tableDir, version)
    val phys = physName(tableDir, version, column)
    val files = rangeFiles(tableDir, version, phys,
      encodeBound(lo), encodeBound(hi))
    val residual = col(phys) >= lit(lo) && col(phys) <= lit(hi)
    if (files.nonEmpty)
      logicalView(readPrunedVisible(spark, tableDir, version, files,
        mergeSchema = mapping.nonEmpty).where(residual), mapping)
    else readSnapshot(spark, tableDir, 0,
      readSnapshot(spark, tableDir, version).schema)
  }

  /** PREFIX read (r14): rows of a string column matching
    * LIKE 'prefix%', file-pruned from manifest bounds alone. In bound
    * space the probe is the interval [enc(prefix·0x00…),
    * enc(prefix·0xFF…)] ([[prefixUpperBound]]); blooms cannot serve
    * prefix predicates, and this is the read that makes sorted string
    * keys (URLs, ISO-date strings, id-prefixed names) skippable at
    * 100 TB the way numeric keys already were. */
  def readSnapshotPrefix(spark: SparkSession, tableDir: String,
      version: Int, column: String, prefix: String): DataFrame = {
    val mapping = columnMapping(tableDir, version)
    val phys = physName(tableDir, version, column)
    val files = rangeFiles(tableDir, version, phys,
      encodeStringBound(prefix), prefixUpperBound(prefix))
    val residual = col(phys).startsWith(prefix)
    if (files.nonEmpty)
      logicalView(readPrunedVisible(spark, tableDir, version, files,
        mergeSchema = mapping.nonEmpty).where(residual), mapping)
    else readSnapshot(spark, tableDir, 0,
      readSnapshot(spark, tableDir, version).schema)
  }

  /** Multiset row-level diff between two committed snapshots, the CDC
    * read: `insert` rows appear in `to` more times than in `from`,
    * `delete` rows the reverse; a COW update surfaces as delete+insert.
    * Only the SYMMETRIC DIFFERENCE of the two manifests' file sets is
    * read — files reused across versions (the common case: an append
    * or a file-granular COW update touches few files) contribute
    * identical multisets to both sides and are never scanned, so diff
    * cost tracks the changed data, not the table. Append-only history
    * diffs read strictly the appended files. */
  def snapshotDiff(spark: SparkSession, tableDir: String,
      fromVersion: Int, toVersion: Int, presentAs: Int = -1): DataFrame = {
    // unit-level prefilter: a group line present VERBATIM in both
    // manifests names an identical file set on both sides (group files
    // are immutable), so it cancels without even being parsed — the
    // file-level symmetric difference then runs over changed units only
    val fromUnits = snapshotUnits(tableDir, fromVersion)
    val toUnits = snapshotUnits(tableDir, toVersion)
    val common = fromUnits.map(_.raw).toSet
      .intersect(toUnits.map(_.raw).toSet)
    val from = fromUnits.filterNot(u => common.contains(u.raw))
      .flatMap(_.entries.map(_.path)).toSet
    val to = toUnits.filterNot(u => common.contains(u.raw))
      .flatMap(_.entries.map(_.path)).toSet
    // a CHANGED deletion-vector line alters row VISIBILITY of files
    // both manifests may share verbatim: those files join both sides'
    // read sets (each side applies its own DVs, so the surviving
    // identical rows cancel and the delta is exactly the DV'd rows).
    // A DV line common to both sides cancels like any other unit: it
    // names the same invisible rows of the same (necessarily common —
    // consolidation keeps DV refs live) files on both sides.
    val changedDvs = (fromUnits ++ toUnits)
      .filter(u => u.isDelete && !common.contains(u.raw))
      .map(_.ref).distinct
    val dvTouched: Set[String] =
      if (changedDvs.isEmpty) Set.empty
      else {
        val fromAll = fromUnits.flatMap(_.entries.map(_.path)).toSet
        val toAll = toUnits.flatMap(_.entries.map(_.path)).toSet
        // per-DV-path cache (r17-opt): DV files are immutable, and a
        // multi-span consumer (table_changes, the change-feed stream)
        // meets the same DV line on the to-side of one span and the
        // from-side of the next — without the cache that is one full
        // Spark job (scan + distinct + collect, plus the serialized
        // Hadoop conf every job broadcasts) per span per DV. The job
        // itself stays (scale-safe: a corpus-sized DV never lands on
        // the driver unaggregated); only its result is memoized.
        changedDvs.map(d => dvFilesOf(spark, d.path)).reduce(_ ++ _)
          .intersect(fromAll).intersect(toAll)
      }
    // a CHANGED equality-delete line (new `=` commit, or one dropped
    // by a restore) alters row visibility of files both manifests may
    // share verbatim — the eq analogue of the changed-DV case. The
    // affected files are scoped by METADATA first: the changed
    // deletes' key tuples (model-sized, collected once) probe each
    // common file's column Blooms; a file lacking a bloom for a key
    // column stays a candidate (absence never skips). Candidates read
    // on BOTH sides, each side applying its own eq set, so unaffected
    // rows cancel and the delta is exactly the visibility change.
    val changedEqs = (fromUnits ++ toUnits)
      .filter(u => u.isEqDelete && !common.contains(u.raw))
      .map(_.ref).distinct
    val eqTouched: Set[String] =
      if (changedEqs.isEmpty) Set.empty
      else {
        val fromAll = fromUnits.flatMap(_.entries.map(_.path)).toSet
        val toAll = toUnits.flatMap(_.entries.map(_.path)).toSet
        val commonEntries = (fromUnits ++ toUnits).flatMap(_.entries)
          .filter(e => fromAll.contains(e.path) && toAll.contains(e.path))
          .groupBy(_.path).map(_._2.head).toSeq
        changedEqs.flatMap { d =>
          // cached driver-side footer schema + cached collect
          // (r17-opt): the eq key file is immutable and delete-sized
          // by contract, and the visible-read path already reads it
          // through these caches — a multi-span diff re-meeting the
          // same eq line no longer pays a job per span
          val fields = footerSchema(spark, d.path).fields
          val keyRows = keyFileRows(spark, d.path)
          commonEntries.filter { e =>
            val filters = fields.map(f => f.name ->
              e.blooms.get(f.name).map(b =>
                org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(b)))).toMap
            keyRows.exists { r =>
              fields.zipWithIndex.forall { case (f, i) =>
                val v = r.get(i)
                v == null || filters(f.name).forall(
                  _.mightContainLong(probeHash(v, f.dataType)))
              }
            }
          }.map(_.path)
        }.toSet
      }
    val removed = ((from -- to) ++ dvTouched ++ eqTouched).toSeq.sorted
    val added = ((to -- from) ++ dvTouched ++ eqTouched).toSeq.sorted
    // mergeSchema + allowMissingColumns: a diff straddling a schema
    // evolution (q245) compares pre-evolution rows with the newer
    // columns as null on BOTH sides, so identical logical rows still
    // cancel and the evolved column is never silently dropped.
    // readPrunedVisible applies each side's own DV AND eq-delete sets
    // (seq-aware), so only true visibility changes survive the delta.
    // SINGLE-PASS signed-count union (r17-opt, guide §2.4): each side
    // carries a ±1 `_sign` literal and ONE full-width aggregation sums
    // it — sum(sign) ≡ count(to side) − count(from side), the same
    // multiset delta the previous per-side count(*)·sign aggregations
    // plus an outer re-aggregation computed with THREE full-width
    // hash aggregates (two Exchanges of pre-aggregated rows plus the
    // union re-shuffle). Diff rows are near-unique by construction, so
    // the per-side pre-aggregation reduced nothing; map-side partial
    // aggregation in the single pass covers the duplicates that do
    // occur. At 100 TB a change-feed span is corpus-shaped: one
    // full-width shuffle per span instead of three.
    def side(files: Seq[String], version: Int, sign: Int): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(readPrunedVisible(spark, tableDir, version, files,
        mergeSchema = true).withColumn("_sign", lit(sign.toLong)))
    (side(added, toVersion, 1), side(removed, fromVersion, -1)) match {
      case (None, None) =>
        val s = readSnapshot(spark, tableDir, toVersion).schema
        readSnapshot(spark, tableDir, 0, s)
          .withColumn("change_type", lit(""))
      case (a, r) =>
        val merged = (a.toSeq ++ r.toSeq)
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val keys = merged.columns.filterNot(_ == "_sign").map(col)
        val feed = merged.groupBy(keys: _*)
          .agg(sum(col("_sign")).as("_delta"))
          .where(col("_delta") =!= 0)
          .withColumn("_i",
            explode(sequence(lit(1L), abs(col("_delta")))))
          .withColumn("change_type",
            when(col("_delta") > 0, lit("insert")).otherwise(lit("delete")))
          .drop("_delta", "_i")
        // the diff CANCELS at the physical level (physical names are
        // frozen, so renames never break row identity); the FEED
        // presents under `presentAs`'s (default: toVersion's) logical
        // shape — Delta CDF's latest-schema convention; a multi-span
        // consumer (table_changes) passes its END version so every
        // span shares one shape across renames. Lenient: a live column
        // can be physically absent from a changed-files-only read
        // (null there by evolution semantics) — the consumer restores
        // it via unionByName(allowMissingColumns = true).
        logicalView(feed, columnMapping(tableDir,
          if (presentAs > 0) presentAs else toVersion),
          extra = Seq("change_type"), lenient = true)
    }
  }

  /** xxhash64 of a single value through the SAME expression the
    * bloom-building aggregate hashes with, evaluated driver-side on
    * the foldable literal — so the probe hash is bit-identical to the
    * inserted hashes by construction, not by reimplementation. The
    * probe CASTS to the column's stored type first: XxHash64 hashes
    * Int and Long (etc.) through different byte paths, so an
    * un-widened `7: Int` probe against a LongType column would hash
    * differently than every inserted value and silently prune ALL
    * files — a false negative, the one failure mode a Bloom index
    * must never have. */
  private def probeHash(value: Any,
      dt: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val raw = Literal(value)
    val typed =
      if (raw.dataType == dt) raw
      else Literal.create(Cast(raw, dt).eval(null), dt)
    new XxHash64(Seq(typed)).eval(null).asInstanceOf[Long]
  }

  /** Manifest-level point skipping: the data files of `version` whose
    * Bloom filter for `column` might contain `value`, plus every file
    * with no bloom (absence never skips). The Bloom probe runs on the
    * manifest's base64 bytes — the only data touch is one schema read
    * to type the probe correctly. The equality complement of
    * [[rangeFiles]]: bounds need a sort order, blooms skip on
    * high-cardinality (incl. string) keys in any layout; false
    * positives only cost an extra file scan, never a missed row. */
  def pointFiles(spark: SparkSession, tableDir: String, version: Int,
      column: String, value: Any): Seq[String] = {
    val units = dataUnits(tableDir, version)
    // type the probe from the FIRST unit's files — schemas are uniform
    // across a snapshot in the common case, and expanding every group
    // just to read a schema would defeat group-level pruning. On a
    // schema-EVOLVED table the probed column may exist only in later-
    // appended units: fall back to merging the cached footers of one
    // file per unit (O(units) footer reads, fallback path only).
    val sample = units.headOption.map(_.entries.map(_.path)).getOrElse(Nil)
    require(sample.nonEmpty, s"pointFiles on empty $tableDir v$version")
    val dt = filesSchema(spark, sample)
      .find(_.name == column).map(_.dataType).getOrElse {
        val onePerUnit = units.flatMap(_.entries.headOption.map(_.path))
        filesSchema(spark, onePerUnit, mergeSchema = true)
          .apply(column).dataType
      }
    val h = probeHash(value, dt)
    // two-level prune: a group's UNION bloom missing the probe proves
    // no member can contain it — the group file is never parsed
    units.filter(_.mayContain(column, h))
      .flatMap(_.entries).filter(_.blooms.get(column)
        .forall(b => org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b))
          .mightContainLong(h))).map(_.path)
  }

  /** Point read with manifest Bloom pruning + the exact residual. */
  def readSnapshotPoint(spark: SparkSession, tableDir: String,
      version: Int, column: String, value: Any): DataFrame = {
    val mapping = columnMapping(tableDir, version)
    val phys = physName(tableDir, version, column)
    val files = pointFiles(spark, tableDir, version, phys, value)
    if (files.nonEmpty)
      logicalView(readPrunedVisible(spark, tableDir, version, files,
        mergeSchema = mapping.nonEmpty)
        .where(col(phys) === lit(value)), mapping)
    else readSnapshot(spark, tableDir, 0,
      readSnapshot(spark, tableDir, version).schema)
  }

  /** Committed OPTIMIZE ZORDER — [[LayoutOps.zorderWrite]] as a
    * transaction: the current snapshot rewrites range-partitioned and
    * sorted by the Morton interleave of (`colA`, `colB`), and the new
    * manifest records per-file min/max bounds on BOTH dimensions (plus
    * whatever stats the table already tracked), so [[boxFiles]] prunes
    * two-sided predicates from the manifest alone. Content untouched;
    * prior snapshots keep their layout — time travel spans clustering. */
  def commitCluster(spark: SparkSession, tableDir: String,
      colA: String, colB: String, nFiles: Int, bits: Int = -1): Committed =
    commitClusterN(spark, tableDir, Seq(colA, colB), nFiles, bits)

  /** n-dimensional committed OPTIMIZE ZORDER ([[LayoutOps.zOrderN]]):
    * the manifest records per-file bounds on EVERY clustered dimension
    * so [[boxFiles]] prunes k-sided predicates from metadata alone.
    * The per-dimension bit budget is 63/k — clustering many columns
    * dilutes all of them, so keep k small (the Delta/Iceberg guidance).
    * `bits ≤ 0` (the default) auto-sizes to min(21, 63/k) so the
    * interleave always fits one long at any dimension count. On a
    * partitioned table the spec's split wins over the z-order layout:
    * the files are one per live partition tuple (see [[writeFiles]]),
    * and the bounds on the clustered dimensions are recorded still. */
  def commitClusterN(spark: SparkSession, tableDir: String,
      sortCols: Seq[String], nFiles: Int, bits: Int = -1): Committed =
    casCommit("commitCluster", tableDir, RescanBudget) { (base, _) =>
      val entries = snapshotEntries(tableDir, base)
      require(entries.nonEmpty, s"commitCluster on empty table $tableDir")
      // full rewrite ⇒ DV, eq-delete AND evolution debt paid, like
      // commitCompact; sortCols arrive LOGICAL — the physical frame
      // sorts/records stats under the frozen physical names
      val physSort = sortCols.map(physName(tableDir, base, _))
      val written = writeFiles(spark, tableDir,
        LayoutOps.zorderFrame(maintenanceRead(spark, tableDir, base),
          physSort, nFiles, bits),
        DataFiles(base), (statsColsOf(entries) ++ physSort).distinct.sorted,
        bloomColsOf(entries))
      Publish(metaLines(snapshotMeta(tableDir, base)) ++
        groupLines(tableDir, written), 0, written.size)
    }

  /** Generalized manifest skipping for SQL scans (r14): files whose
    * bounds intersect every (column, lo?, hi?) constraint — each side
    * OPTIONAL, so one-sided predicates (`k >= x`, `ts < y`) prune too.
    * Values must arrive through [[encodeBound]]. Pure metadata, two-
    * level (group envelopes first); absent bounds never skip. */
  def predFiles(tableDir: String, version: Int,
      preds: Seq[(String, Option[BigDecimal], Option[BigDecimal])]): Seq[String] =
    predFilesCnf(tableDir, version,
      preds.map { case (c, lo, hi) => (c, Seq((lo, hi))) })

  /** CNF manifest skipping (r15): per column a DISJUNCTION of
    * (lo?, hi?) interval alternatives — a file is kept only when, for
    * EVERY column constraint, its bounds intersect AT LEAST ONE
    * alternative. This serves the same-column OR shape
    * (`ts BETWEEN a AND b OR ts BETWEEN c AND d`, and IN lists as
    * exact point alternatives) without widening to one bounding box.
    * Still monotone: keeping on ANY may-match alternative only ever
    * admits. Values must arrive through [[encodeBound]]. */
  def predFilesCnf(tableDir: String, version: Int,
      preds: Seq[(String, Seq[(Option[BigDecimal], Option[BigDecimal])])])
      : Seq[String] = {
    def hit(bounds: Map[String, (BigDecimal, BigDecimal)]): Boolean =
      preds.forall { case (c, alts) =>
        bounds.get(c).forall { case (mn, mx) =>
          alts.exists { case (lo, hi) =>
            lo.forall(mx >= _) && hi.forall(mn <= _) } }
      }
    dataUnits(tableDir, version).filter(u => hit(u.ref.bounds))
      .flatMap(_.entries).filter(e => hit(e.bounds)).map(_.path)
  }

  /** Data-file count of a snapshot WITHOUT expanding group lines —
    * from the group envelopes' `_files` counts (the [[rangeStats]]
    * discipline). What a pruned scan compares its kept-list against. */
  def snapshotFileCount(tableDir: String, version: Int): Int =
    dataUnits(tableDir, version).map(u =>
      if (!u.isGroup) 1
      else u.ref.bounds.get(FilesKey).map(_._1.toInt)
        .getOrElse(u.entries.size)).sum

  /** Visible read of an externally pruned file list (r14) — the read
    * the Engine's statement-scoped SQL pruning rebinds a table to.
    * DV anti-joins, eq-delete sequences and column mapping all apply;
    * the CALLER's own predicate is the residual (pruning hands back a
    * superset, so re-applying the full WHERE keeps results exact).
    * An empty list reads as the empty table with the right schema. */
  def readSnapshotFiles(spark: SparkSession, tableDir: String,
      version: Int, files: Seq[String]): DataFrame = {
    val mapping = columnMapping(tableDir, version)
    if (files.isEmpty)
      readSnapshot(spark, tableDir, 0,
        readSnapshot(spark, tableDir, version).schema)
    else logicalView(readPrunedVisible(spark, tableDir, version, files,
      mergeSchema = mapping.nonEmpty), mapping)
  }

  /** Multi-dimensional manifest skipping: files whose recorded bounds
    * intersect EVERY (column, lo, hi) constraint of the query box —
    * what a Z-ordered layout makes tight in all clustered dimensions
    * at once. Pure metadata; absent bounds never skip. */
  def boxFiles(tableDir: String, version: Int,
      box: Seq[(String, BigDecimal, BigDecimal)]): Seq[String] =
    dataUnits(tableDir, version).filter(_.mayMatch(box))
      .flatMap(_.entries).filter(e => box.forall {
        case (c, lo, hi) => e.bounds.get(c)
          .forall { case (mn, mx) => mx >= lo && mn <= hi }
      }).map(_.path)

  /** Box read with manifest pruning + the exact residual conjunction. */
  def readSnapshotBox(spark: SparkSession, tableDir: String, version: Int,
      box: Seq[(String, BigDecimal, BigDecimal)]): DataFrame = {
    val mapping = columnMapping(tableDir, version)
    val pbox = box.map { case (c, lo, hi) =>
      (physName(tableDir, version, c), lo, hi) }
    val files = boxFiles(tableDir, version, pbox)
    val residual = pbox.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (files.nonEmpty)
      logicalView(readPrunedVisible(spark, tableDir, version, files,
        mergeSchema = mapping.nonEmpty).where(residual), mapping)
    else readSnapshot(spark, tableDir, 0,
      readSnapshot(spark, tableDir, version).schema)
  }

  private def branchPath(tableDir: String, branch: String): Path = {
    require(branch.matches("[A-Za-z0-9_-]+"), s"bad branch name: $branch")
    manifestDir(tableDir).resolve(s"branch-$branch.manifest")
  }

  /** Write-Audit-Publish staging: the batch writes as immutable files
    * recorded in a BRANCH manifest (`manifests/branch-<name>`), fully
    * invisible to every main-line reader — manifests/v<N> never name
    * staged files until [[publishBranch]]. Repeated stageAppend calls
    * accumulate on the branch (atomic manifest replace; one writer per
    * branch is the WAP contract). Returns the branch's staged file
    * count. */
  def stageAppend(spark: SparkSession, tableDir: String, branch: String,
      df: DataFrame, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Int = {
    // the staged frame keeps its own (logical) names
    val mine = writeFiles(spark, tableDir, df,
      DataFiles(currentVersion(tableDir), identity), statsCols, bloomCols)
    Files.createDirectories(manifestDir(tableDir))
    val bp = branchPath(tableDir, branch)
    val lines = (stagedEntries(tableDir, branch) ++ mine).map(_.line)
    val tmp = manifestDir(tableDir).resolve(
      s".branch-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, bp, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    lines.size
  }

  /** Branch lines reuse the main manifest entry format, stats included. */
  def stagedEntries(tableDir: String, branch: String): Seq[FileEntry] = {
    val bp = branchPath(tableDir, branch)
    if (!Files.exists(bp)) Seq.empty
    else new String(Files.readAllBytes(bp), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq.map(parseEntry)
  }

  /** Only the rows a branch has staged, through the footer-schema
    * reader (no schema-inference job over the files just staged). */
  def readStaged(spark: SparkSession, tableDir: String,
      branch: String): DataFrame =
    readParquet(spark, stagedEntries(tableDir, branch).map(_.path))

  /** The AUDIT view: current main plus the branch's staged rows — what
    * main WILL look like if the branch publishes. Constraint suites
    * (ConstraintOps) run against this, never against published data. */
  def readBranch(spark: SparkSession, tableDir: String,
      branch: String): DataFrame = {
    val cur = currentVersion(tableDir)
    val baseFiles = snapshotFiles(tableDir, cur)
    val stagedFiles = stagedEntries(tableDir, branch).map(_.path)
    require(baseFiles.nonEmpty || stagedFiles.nonEmpty,
      s"readBranch on empty $tableDir/$branch")
    val sides = Seq(
      if (baseFiles.nonEmpty)
        Some(readFilesDv(spark, baseFiles, deleteEntries(tableDir, cur)))
      else None,
      if (stagedFiles.nonEmpty) Some(readParquet(spark, stagedFiles))
      else None).flatten
    sides.reduce(_.unionByName(_))
  }

  /** PUBLISH: the staged files join the main line as one atomic
    * version (manifest union onto the CURRENT main, the commitAppend
    * discipline), then the branch pointer deletes. Zero data movement: publish is
    * pure metadata. `txn` carries the same per-stream batch watermark
    * as [[commitAppend]], making an audit-gated streaming sink's
    * publish idempotent under replay (skipped = already published). */
  def publishBranch(tableDir: String, branch: String,
      txn: Option[(String, Long)] = None): Committed = {
    val bp = branchPath(tableDir, branch)
    val pre = currentVersion(tableDir)
    if (alreadyIn(txn, snapshotMeta(tableDir, pre))) {
      Files.deleteIfExists(bp) // replayed branch content is stale
      return Committed(pre, 0, 0, 0, skipped = true)
    }
    require(Files.exists(bp), s"no branch $branch on $tableDir")
    val stagedLines = new String(Files.readAllBytes(bp),
      StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty).toSeq
    // Content fingerprint of the staged lines, recorded in the
    // published manifest's meta under publish.<branch>. Makes the
    // NON-txn path crash-idempotent too: a crash after the manifest
    // CAS won but before the branch pointer deleted leaves a stale
    // branch whose files are already in main — a restart's re-publish
    // finds its own fingerprint in the current meta and skips instead
    // of appending every staged row a second time. (Staged paths are
    // UUID-unique, so equal fingerprint ⇔ same staged content.)
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(stagedLines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val stagedGroup = groupLines(tableDir, stagedLines.map(parseEntry))
    val c = casCommit("publishBranch", tableDir, RelistBudget) {
      (base, conflicts) =>
        val meta = snapshotMeta(tableDir, base)
        if (alreadyIn(txn, meta) || meta.get(s"publish.$branch").contains(fp))
          Skip(Committed(base, 0, 0, conflicts, skipped = true))
        // base lines carry forward verbatim; the staged file entries
        // publish as one group line — publish stays a pure-metadata
        // operation whose cost tracks the batch, not the table
        else Publish(
          metaLines(withTxn(meta, txn) + (s"publish.$branch" -> fp)) ++
            snapshotUnits(tableDir, base).map(_.raw) ++ stagedGroup,
          0, stagedLines.size)
    }
    Files.deleteIfExists(bp) // published, or already in main
    c
  }

  /** REJECT: drop the branch pointer; its files become unreferenced
    * orphans for [[vacuum]] — dirty data never touched the main line. */
  def dropBranch(tableDir: String, branch: String): Boolean =
    Files.deleteIfExists(branchPath(tableDir, branch))

  // ------------------------------------------------------------------
  // NAMED REFS (r15): TAGS and BRANCH FORKS — the Iceberg ref model
  // (design reference: Iceberg spec "Branches and Tags"; no code
  // shared). A TAG is an immutable named pin of a committed version:
  // retention ([[vacuum]]/[[vacuumOlderThan]]) keeps a tagged
  // version's manifest and files alive however old it gets, and
  // dropping the tag releases them to the normal horizon. A BRANCH
  // FORK is a full writable fork of the version chain: its own
  // manifest chain seeded from the fork version, against which EVERY
  // commit verb in this object works unchanged (append, COW/MoR
  // DML, merge, compact, z-order, schema evolution) — because a
  // branch IS a table dir whose seed manifest references the
  // parent's immutable files in place, zero bytes copied.
  //
  // The seed manifest publishes AT the fork version number, not at
  // v1: unit `_seq` stamps carried from the parent stay consistent
  // with the branch's own version counter (an eq-delete committed on
  // the branch at version k applies to units with seq < k in BOTH
  // chains — the shared-sequence-space rule that makes fast-forward
  // sound). WAP staging ([[stageAppend]]) remains the lightweight
  // audit path; forks are for multi-commit isolated work.
  // ------------------------------------------------------------------

  private def refsDir(tableDir: String): Path =
    manifestDir(tableDir).resolve("refs")

  private def refName(name: String): String = {
    require(name.matches("[A-Za-z0-9_-]+"), s"bad ref name: $name")
    name
  }

  private def tagPath(tableDir: String, name: String): Path =
    refsDir(tableDir).resolve(s"tag-${refName(name)}.ref")

  /** Create an immutable TAG pinning `version`. Fails if the tag
    * exists (tags never move — drop and recreate is the explicit
    * idiom) or the version doesn't. */
  def createTag(tableDir: String, name: String, version: Int): Unit = {
    require(availableVersions(tableDir).contains(version),
      s"createTag $name: version $version does not exist on $tableDir")
    // tags and branch forks share ONE ref namespace (the Iceberg
    // rule): VERSION AS OF '<ref>' resolves tags first, so a
    // same-named pair would silently shadow the branch
    require(!new java.io.File(branchForkDir(tableDir, name),
      "manifests").isDirectory,
      s"ref $name already names a branch on $tableDir — tags and " +
        "branches share one ref namespace")
    Files.createDirectories(refsDir(tableDir))
    try Files.write(tagPath(tableDir, name),
      version.toString.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalArgumentException(
        s"tag $name already exists on $tableDir — tags are immutable, " +
          "drop it first")
    }
  }

  def tagVersion(tableDir: String, name: String): Option[Int] = {
    val p = tagPath(tableDir, name)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8).trim.toInt)
  }

  def dropTag(tableDir: String, name: String): Boolean =
    Files.deleteIfExists(tagPath(tableDir, name))

  def listTags(tableDir: String): Seq[(String, Int)] =
    Option(refsDir(tableDir).toFile.listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.getName.startsWith("tag-") &&
        f.getName.endsWith(".ref"))
      .map(f => f.getName.stripPrefix("tag-").stripSuffix(".ref") ->
        new String(Files.readAllBytes(f.toPath),
          StandardCharsets.UTF_8).trim.toInt)
      .sortBy(_._1)

  /** Branch forks live INSIDE the parent dir, so a durable (warehouse)
    * table's branches are durable with it and re-discoverable by
    * listing. */
  def branchForkDir(tableDir: String, name: String): String =
    s"$tableDir/branches/${refName(name)}"

  def listBranchForks(tableDir: String): Seq[String] =
    Option(new java.io.File(tableDir, "branches").listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(d => new java.io.File(d, "manifests").isDirectory)
      .map(_.getName).sorted

  /** Fork a writable branch at `fromVersion`. Pure metadata: the seed
    * manifest carries the parent's unit lines verbatim (absolute
    * paths — the parent files back the branch in place) plus
    * `fork.of`/`fork.from` bookkeeping, published at version
    * `fromVersion` so the sequence space is shared (see section
    * note). Returns the branch table dir — every SnapshotOps verb
    * operates on it directly. */
  def createBranchFork(tableDir: String, name: String,
      fromVersion: Int): String = {
    val bd = branchForkDir(tableDir, name)
    require(!new java.io.File(bd, "manifests").isDirectory,
      s"branch $name already exists on $tableDir")
    // shared ref namespace with tags (see createTag): a branch named
    // like an existing tag would be unreachable through VERSION AS OF
    require(tagVersion(tableDir, name).isEmpty,
      s"ref $name already names a tag on $tableDir — tags and " +
        "branches share one ref namespace")
    require(availableVersions(tableDir).contains(fromVersion),
      s"createBranchFork $name: version $fromVersion does not exist " +
        s"on $tableDir")
    val meta = snapshotMeta(tableDir, fromVersion) +
      ("fork.of" -> tableDir) + ("fork.from" -> fromVersion.toString)
    val lines = metaLines(meta) ++
      snapshotUnits(tableDir, fromVersion).map(_.raw)
    require(tryPublishLines(bd, fromVersion, lines),
      s"createBranchFork $name: lost the creation race on $tableDir")
    bd
  }

  /** The first path field of a manifest unit line (after any
    * `@`/`!`/`=` marker), plus the pieces to rebuild the line. */
  private def splitUnitLine(l: String): (String, String, String) = {
    val marker = l.charAt(0) match {
      case '@' | '!' | '=' => l.take(1)
      case _ => ""
    }
    val body = l.drop(marker.length)
    val tab = body.indexOf('\t')
    if (tab < 0) (marker, body, "")
    else (marker, body.take(tab), body.drop(tab))
  }

  /** FAST-FORWARD: the parent adopts the branch's commits. Requires
    * the parent unmoved since the fork (a moved parent = divergence —
    * fail loudly; rebase is the caller's decision, not this verb's).
    * Each branch version RE-PUBLISHES onto the parent chain verbatim
    * (same version numbers, same `_seq` stamps — history, time
    * travel, CDF and appends-since all span the adopted range), with
    * branch-local paths rewritten to their parent-side locations:
    * branch-written data dirs RENAME into the parent's data area
    * (zero bytes copied) and branch-written group files re-land in
    * the parent's groups dir with member paths rewritten. The fork is
    * CONSUMED on success — with physical forks, "branch == main" is
    * the deleted branch, not a dangling alias whose files' lifetimes
    * two chains would have to co-own. Single-writer contract: a
    * parent commit racing the adoption fails the remaining
    * publishes loudly; a crash mid-verb leaves the parent correct at
    * whatever prefix landed and the fork recoverable only by
    * [[dropBranchFork]] (its data dirs already parked under the
    * parent as vacuum-able orphans). */
  def fastForward(tableDir: String, name: String): Committed = {
    val bd = branchForkDir(tableDir, name)
    require(new java.io.File(bd, "manifests").isDirectory,
      s"no branch $name on $tableDir")
    val bCur = currentVersion(bd)
    val from = snapshotMeta(bd, bCur).getOrElse("fork.from",
      throw new IllegalStateException(
        s"branch $name carries no fork.from marker")).toInt
    def requireUnmoved(): Unit = {
      val pCur = currentVersion(tableDir)
      if (pCur != from)
        throw new java.util.ConcurrentModificationException(
          s"fast_forward $name: $tableDir advanced ($from -> $pCur) " +
            "since the fork — diverged; drop the branch or merge its " +
            "content explicitly")
    }
    requireUnmoved()
    if (bCur == from) { // nothing committed on the branch
      dropBranchFork(tableDir, name)
      return Committed(from, 0, 0, 0, skipped = true)
    }
    val prefix = bd + "/"
    def rew(p: String): String =
      if (p.startsWith(prefix)) s"$tableDir/${p.drop(prefix.length)}"
      else p
    val vs = (from + 1) to bCur
    // rewritten manifest lines per adopted version (fork bookkeeping
    // dropped from meta; everything else verbatim, stamps included)
    val perVersion: Seq[(Int, Seq[String])] = vs.map { v =>
      val lines = manifestLines(bd, v).flatMap { l =>
        if (l.startsWith("#fork.")) None
        else if (l.startsWith("#")) Some(l)
        else {
          val (marker, path, rest) = splitUnitLine(l)
          Some(marker + rew(path) + rest)
        }
      }
      (v, lines)
    }
    // branch-written group files: re-land under the parent's groups
    // dir with member paths rewritten (UUID names — no collisions;
    // an existing target means a resumed verb already wrote it)
    vs.flatMap(v => manifestLines(bd, v))
      .filter(_.startsWith("@" + prefix))
      .map(l => splitUnitLine(l)._2).distinct.foreach { gp =>
        val members = new String(Files.readAllBytes(Paths.get(gp)),
          StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
        val out = members.map { ml =>
          val (m, p, rest) = splitUnitLine(ml)
          m + rew(p) + rest
        }
        val target = Paths.get(rew(gp))
        Files.createDirectories(target.getParent)
        if (!Files.exists(target))
          Files.write(target, out.mkString("\n")
            .getBytes(StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW)
      }
    // branch-written data dirs (data files, DVs, eq-delete key files
    // all land under <bd>/data/<uuid>): rename the top-level uuid
    // dirs into the parent's data area
    val localDirs = vs.flatMap { v =>
      val us = snapshotUnits(bd, v)
      us.flatMap(_.entries.map(_.path)) ++
        us.filter(u => u.isDelete || u.isEqDelete).map(_.ref.path)
    }.filter(_.startsWith(prefix + "data/"))
      .map(p => p.drop(prefix.length).split("/").take(2).mkString("/"))
      .distinct
    Files.createDirectories(Paths.get(tableDir, "data"))
    // last divergence check BEFORE any rename: a parent commit that
    // landed between entry and here would otherwise strand the moved
    // dirs as adopted-but-unpublished orphans (the publish loop below
    // would fail on version 1 of the adoption, after the moves)
    requireUnmoved()
    val now = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis())
    localDirs.foreach { rel =>
      val src = Paths.get(bd, rel)
      if (Files.exists(src)) {
        val dst = Paths.get(tableDir, rel)
        Files.move(src, dst)
        // re-stamp the adopted files' mtimes: Files.move preserves
        // them, and until the publishes below land these files are
        // referenced by no parent manifest — indistinguishable from
        // orphans. Fresh mtimes put them inside vacuum's graceMs
        // window, so a crash/lost race here cannot make a routine
        // vacuum delete adopted-but-unpublished data.
        val walk = Files.walk(dst)
        try walk.forEach(p => { Files.setLastModifiedTime(p, now); () })
        finally walk.close()
      }
    }
    var written = 0
    perVersion.foreach { case (v, lines) =>
      if (!tryPublishLines(tableDir, v, lines))
        throw new java.util.ConcurrentModificationException(
          s"fast_forward $name: version $v landed concurrently on " +
            s"$tableDir — adopted $written/${vs.size} branch versions")
      written += 1
    }
    dropBranchFork(tableDir, name)
    Committed(bCur, 0, written, 0)
  }

  /** Delete a branch fork: its own data dirs (never the parent files
    * its seed references) become unreachable and are removed with the
    * dir. */
  def dropBranchFork(tableDir: String, name: String): Boolean = {
    val bd = Paths.get(branchForkDir(tableDir, name))
    if (!Files.exists(bd)) false
    else {
      val walk = Files.walk(bd)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
      true
    }
  }

  /** The outcome column of a resolved MERGE frame (see [[commitMergeWith]]):
    * [[MergeWrite]] (the row lands in the new version: a matched row's
    * replacement or an insert), [[MergeDelete]] (the matched target row
    * drops and nothing replaces it) or [[MergeCarry]] (a matched target
    * row no clause changes). */
  private[graft] val MergeKind = "__kind"
  private[graft] val MergeWrite = "write"
  private[graft] val MergeDelete = "delete"
  private[graft] val MergeCarry = "carry"

  /** Transactional MERGE (upsert): source rows REPLACE the target rows
    * sharing their key (every copy, across files); source rows with no
    * match APPEND. The degenerate resolver of [[commitMergeWith]]:
    * every target row holding a source key resolves to a delete, every
    * source row to a write. The source must be key-unique
    * (enforced — a duplicate would make the merge order-dependent). It
    * is checkpointed once per call, so the key-range probe, the resolve
    * and every retry read one copy of it (a streaming batch included). */
  def commitMerge(spark: SparkSession, tableDir: String,
      source: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)] = None): Committed = {
    require(keyCols.nonEmpty, "commitMerge needs key columns")
    // same per-stream watermark as commitAppend: a replayed upsert
    // batch (the streaming CDC-apply sink's at-least-once retry) must
    // skip BEFORE reading or writing a byte
    val pre = currentVersion(tableDir)
    if (alreadyIn(txn, snapshotMeta(tableDir, pre)))
      return Committed(pre, 0, 0, 0, skipped = true)
    val keys = keyCols.map(col)
    val src = checkpoint(source)
    val probe = src.select(keys: _*)
    try commitMergeWith(spark, tableDir, keyCols, probe, s"MERGE $tableDir",
        txn) { base =>
      base.join(broadcast(probe), keyCols, "left_semi")
        .withColumn(MergeKind, lit(MergeDelete))
        .unionByName(src.withColumn("__file", lit(null).cast("string"))
          .withColumn(MergeKind, lit(MergeWrite)))
    }.getOrElse(throw new IllegalArgumentException(
      s"commitMerge source not unique on $keyCols"))
    finally releaseCheckpoint(src)
  }

  /** Transactional MERGE, copy-on-write at file granularity, resolved
    * inside each commit attempt against the base it publishes over.
    * The attempt:
    *  1. reads the visible base once, file-tagged and pruned to the
    *     files whose recorded key bounds (or bucket values) intersect
    *     `probe`'s — the source's key tuples under the target's key
    *     names, cast to the target's key types; no recorded bounds, no
    *     pruning;
    *  2. hands that frame (the logical columns plus `__file`) to
    *     `resolve` and checkpoints what it returns: the same columns
    *     with `__file` null on source-only rows, plus [[MergeKind]];
    *  3. takes the verdict and the touched files from the checkpoint in
    *     one aggregation. A key some row writes or deletes must have no
    *     carried row (a duplicate target key: the rewrite drops every
    *     row of a touched key) and at most one written row (a duplicate
    *     source key). Otherwise the attempt declines: nothing is written
    *     or published and the result is None;
    *  4. rewrites the touched files — the files of the matched rows
    *     that write or delete — in one read: their rows whose key such
    *     a row holds drop and the written rows join them, while
    *     untouched files carry forward byte-for-byte with their stats
    *     lines.
    * Cost: one read of the pruned base, one of the touched files, and
    * jobs over the resolved rows only. A lost CAS re-runs the attempt,
    * so every retry re-resolves on the new base: a concurrent commit's
    * rows are never replaced by values computed from an older one.
    * `probe` is read for the pruning bounds and `resolve` reads the
    * source again, so both must be deterministic. Every job is labelled
    * `"<label>: probe|resolve|rewrite|commit"`; the rewrite's stats
    * belong to its write ([[writeFiles]]). */
  private[graft] def commitMergeWith(spark: SparkSession, tableDir: String,
      keyCols: Seq[String], probe: DataFrame, label: String,
      txn: Option[(String, Long)] = None)(
      resolve: DataFrame => DataFrame): Option[Committed] = {
    val keys = keyCols.map(col)
    def phase[T](p: String)(body: => T): T =
      withJobLabel(spark, s"$label: $p")(body)
    casCommitOrDecline("commitMerge", tableDir, RescanBudget) {
        (base, conflicts) =>
      if (alreadyIn(txn, snapshotMeta(tableDir, base))) // twin won the race
        Skip(Committed(base, 0, 0, conflicts, skipped = true))
      else {
        val units = dataUnits(tableDir, base)
        val dvs = deleteEntries(tableDir, base)
        val eqs = eqDeleteUnits(tableDir, base)
        val entries = units.flatMap(_.entries)
        require(entries.nonEmpty, s"commitMerge on empty table $tableDir")
        // VISIBLE rows only: a merge must treat an eq-deleted key as
        // absent (insert), never as a match to resurrect-and-replace.
        // keyCols and the resolved frame are LOGICAL — snapshot frames
        // read as the mapped view (identity for never-evolved tables),
        // the final write translates back to the frozen physical names.
        val mapping = columnMapping(tableDir, base)
        val snapPhys = readUnitsVisible(spark, tableDir, units,
          dvs, eqs, tagged = true, mergeSchema = mapping.nonEmpty)
        // the pruned reads take a file SUBSET — anchor them to the full
        // physical snapshot schema so files predating an evolved append
        // surface the newer columns (as null) instead of failing the
        // logical projection
        val physSchema = org.apache.spark.sql.types.StructType(
          snapPhys.schema.filterNot(f =>
            f.name == "__file" || f.name == "__pos"))
        // the probe's keys in the target's own types, so the bounds and
        // bucket hashes below compare like with like: a bigint 5 hashes
        // unlike an int 5, and a string key encodes as bytes, not as the
        // number or date it names. A value the target type cannot hold
        // matches no target row and drops out (try_cast). A string
        // target key compared with a non-string source compares in the
        // source's type ('05' and '5' both match 5), which no cast of
        // the source reproduces: that merge does not prune.
        val keyProbe: Option[DataFrame] = {
          import org.apache.spark.sql.types.StringType
          val tgt = logicalView(snapPhys, mapping, extra = Seq("__file"))
            .schema
          val pairs = keyCols.map(c =>
            (c, probe.schema.find(_.name.equalsIgnoreCase(c)),
              tgt.find(_.name.equalsIgnoreCase(c))))
          pairs.foldLeft(Option(Seq.empty[Column])) {
            case (Some(acc), (c, Some(p), Some(t)))
                if !t.dataType.isInstanceOf[StringType] ||
                  p.dataType.isInstanceOf[StringType] =>
              Some(acc :+ col(c).try_cast(t.dataType).as(c))
            case _ => None
          }.map(cs => probe.select(cs: _*))
        }
        // manifest-pruned base (r14): when the target records bounds on
        // the merge keys, the probe's key range (one small agg) prunes
        // the base to the bound-intersecting files — a row matching a
        // source key must carry that key's value, so it can only live
        // in a file whose bounds intersect the source range.
        // Unsupported key types or an empty probe decline (full scan).
        val candSet: Option[Set[String]] = keyProbe.flatMap { kp =>
          phase("probe") {
            val boundsPreds: Seq[(String,
                Seq[(Option[BigDecimal], Option[BigDecimal])])] = {
              val physKeys = keyCols.map(physName(tableDir, base, _))
                .filter(c => entries.exists(_.bounds.contains(c)))
              if (physKeys.isEmpty) Seq.empty
              else scala.util.Try {
                val aggs = keyCols.flatMap(c =>
                  Seq(min(col(c)).as(s"_lo_$c"), max(col(c)).as(s"_hi_$c")))
                val r = kp.agg(aggs.head, aggs.tail: _*).head()
                val preds = keyCols.zip(keyCols.map(physName(tableDir, base, _)))
                  .flatMap { case (c, phys) =>
                    (Option(r.getAs[Any](s"_lo_$c")),
                      Option(r.getAs[Any](s"_hi_$c"))) match {
                      case (Some(lo), Some(hi)) => Some((phys,
                        Seq((Option(encodeBound(lo)), Option(encodeBound(hi))))))
                      case _ => None // all-null or empty source: no pruning
                    }
                  }
                if (preds.size != keyCols.size) Seq.empty else preds
              }.getOrElse(Seq.empty)
            }
            // bucket-spec probes (r16): a bucket transform on a merge key
            // serves the same pruning STRUCTURALLY, with auto_stats off —
            // files written under the spec record their derived `_p.`
            // bucket value, and the probe's distinct bucket set (≤ n
            // values by construction, one small agg through the SAME
            // xxhash64 the write expression used) becomes exact point
            // alternatives on that key. Pre-spec files carry no `_p.`
            // bound and are never skipped.
            val bucketPreds: Seq[(String,
                Seq[(Option[BigDecimal], Option[BigDecimal])])] =
              partitionSpecAll(tableDir, base)
                .filter(pf => pf.transform == "bucket" &&
                  keyCols.exists(_.equalsIgnoreCase(pf.col)))
                .flatMap { pf =>
                  scala.util.Try {
                    partitionExprs(Seq(pf), kp).headOption.flatMap {
                      case (key, e) =>
                        val vals = kp.select(e.as("b"))
                          .where(col("b").isNotNull).distinct()
                          .collect().map(_.getLong(0)).sorted
                        // all n buckets present ⇒ nothing skippable
                        if (vals.isEmpty || vals.length >= pf.arg) None
                        else Some((key, vals.toSeq.map(v =>
                          (Option(BigDecimal(v)), Option(BigDecimal(v))))))
                    }
                  }.toOption.flatten
                }
            val cnf = boundsPreds ++ bucketPreds
            if (cnf.isEmpty) None
            else scala.util.Try(predFilesCnf(tableDir, base, cnf)
              .map(localPath).toSet).toOption
          }
        }
        val snap = candSet match {
          case Some(cs) if cs.isEmpty => // no file can match: all inserts
            logicalView(snapPhys, mapping, extra = Seq("__file")).limit(0)
          case Some(cs) => logicalView(readUnitsVisible(spark, tableDir,
            units, dvs, eqs, tagged = true,
            mergeSchema = mapping.nonEmpty,
            anchor = if (mapping.nonEmpty) physSchema else null,
            keep = e => cs.contains(localPath(e.path))),
            mapping, extra = Seq("__file"))
          case None => logicalView(snapPhys, mapping, extra = Seq("__file"))
        }
        val cols = snap.columns.filterNot(c => c == "__file" || c == "__pos")
        val resolved = phase("resolve")(
          checkpoint(resolve(snap.select(
            (cols :+ "__file").map(col).toIndexedSeq: _*))))
        try {
          val kind = col(MergeKind)
          val changes = kind =!= MergeCarry
          // per key: written and carried rows, and the files its
          // changing rows name; then over the keys some row changes,
          // whether any breaks the rule, whether any writes, and the
          // touched files (a file-set-sized collect)
          val verdict = phase("resolve")(resolved.groupBy(keys: _*)
            .agg(sum(when(kind === MergeWrite, 1).otherwise(0)).as("w"),
              sum(when(kind === MergeCarry, 1).otherwise(0)).as("c"),
              max(when(changes, 1).otherwise(0)).as("t"),
              collect_set(when(changes, col("__file"))).as("fs"))
            .where(col("t") === 1)
            .select((col("w") > 1 || col("c") > 0).cast("int").as("bad"),
              (col("w") > 0).cast("int").as("wr"),
              explode_outer(col("fs")).as("f"))
            .agg(max(col("bad")), max(col("wr")), collect_set(col("f")))
            .head())
          if (!verdict.isNullAt(0) && verdict.getInt(0) == 1) Decline
          else {
            val anyWrite = !verdict.isNullAt(1) && verdict.getInt(1) == 1
            val touched = verdict.getSeq[String](2).map(localPath).toSet
            // group-granular COW, as in commitRewrite (see cowLines)
            val rewritten =
              entries.count(e => touched.contains(localPath(e.path)))
            val writes = resolved.where(kind === MergeWrite)
              .select(cols.map(col).toIndexedSeq: _*)
            val written =
              if (rewritten == 0 && !anyWrite) Seq.empty[FileEntry]
              else {
                val out =
                  if (rewritten == 0) writes
                  else logicalView(readUnitsVisible(spark, tableDir,
                    units, dvs, eqs,
                    anchor = if (mapping.nonEmpty) physSchema else null,
                    keep = e => touched.contains(localPath(e.path))),
                    mapping)
                    .join(broadcast(resolved
                      .where(col("__file").isNotNull && changes)
                      .select(keys: _*)), keyCols, "left_anti")
                    .unionByName(writes)
                phase("rewrite")(writeFiles(spark, tableDir,
                  toPhysical(out, mapping), DataFiles(base),
                  statsColsOf(entries), bloomColsOf(entries)))
              }
            Publish(phase("commit")(cowLines(spark, tableDir, base, units,
              dvs, touched, written, txn)), entries.size - rewritten,
              written.size)
          }
        } finally releaseCheckpoint(resolved)
      }
    }
  }

  /** Small-file compaction POLICY — q196/commitCompact generalized to
    * the maintenance verb a warehouse actually schedules: files under
    * `targetBytes / 2` are first-fit-decreasing bin-packed into
    * ~`targetBytes` bins and each bin rewrites into one file (one per
    * live partition tuple under a partition spec); files
    * already at target size are REUSED byte-for-byte (their stats
    * lines carry forward untouched). Sizing reads the manifest's
    * recorded `_bytes` — a metadata operation. Each bin's rewrite is an
    * independent job over only that bin's files, so maintenance cost
    * tracks the small-file mass, never the table; returns skipped=true
    * when fewer than two small files exist (nothing to do — no commit
    * burned). Under a partition spec, a small file alone in its
    * partition tuple does not count. */
  def commitCompactSmall(spark: SparkSession, tableDir: String,
      targetBytes: Long): Committed =
    casCommit("commitCompactSmall", tableDir, RescanBudget) {
      (base, conflicts) =>
        val units = dataUnits(tableDir, base)
        val dvs = deleteEntries(tableDir, base)
        val entries = units.flatMap(_.entries)
        require(entries.nonEmpty, s"commitCompactSmall on empty $tableDir")
        // a small file alone in its partition tuple is as compact as the
        // spec lets it be: rewriting it would write it again, every call
        def tuple(e: FileEntry) = e.bounds.toSeq.collect {
          case (k, (lo, hi)) if k.startsWith(PartBoundPrefix) && lo == hi =>
            k -> lo }.sorted
        // sizes come from the manifest's recorded `_bytes`; only lines
        // written before the stat existed ask the filesystem
        val small = entries.map(e => e -> e.bounds.get(BytesKey)
          .fold(new java.io.File(e.path).length())(_._1.toLong))
          .filter(_._2 < targetBytes / 2)
          .groupBy(s => tuple(s._1)).toSeq.flatMap { case (t, g) =>
            if (t.nonEmpty && g.size == 1) Nil else g }
        if (small.size <= 1)
          Skip(Committed(base, entries.size, 0, conflicts, skipped = true))
        else {
          // first-fit decreasing: stable, deterministic bin assignment
          val bins = scala.collection.mutable.ArrayBuffer
            .empty[(Long, scala.collection.mutable.ArrayBuffer[FileEntry])]
          small.sortBy { case (e, sz) => (-sz, e.path) }.foreach {
            case (e, sz) => bins.find(_._1 + sz <= targetBytes) match {
              case Some(bin) =>
                val i = bins.indexOf(bin)
                bins(i) = (bin._1 + sz, bin._2 += e)
              case None =>
                bins += ((sz, scala.collection.mutable.ArrayBuffer(e)))
            }
          }
          val statsCols = statsColsOf(entries)
          val bloomCols = bloomColsOf(entries)
          val written = bins.toSeq.flatMap { case (_, binEntries) =>
            // a bin can mix files of different sequences: the visible read
            // applies each member's applicable eq-deletes before baking
            // (the rewritten bin gets THIS commit's sequence)
            val binSet = binEntries.map(e => localPath(e.path)).toSet
            writeFiles(spark, tableDir, maintenanceRead(spark, tableDir, base,
              keep = e => binSet.contains(localPath(e.path))).coalesce(1),
              DataFiles(base), statsCols, bloomCols)
          }
          // group-granular COW: all-large groups carry forward unparsed;
          // large files stranded in broken groups re-wrap (see cowLines)
          Publish(cowLines(spark, tableDir, base, units, dvs,
            small.map(s => localPath(s._1.path)).toSet, written),
            entries.size - small.size, written.size)
        }
    }
}
