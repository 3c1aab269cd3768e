package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.Engine
import graft.dialect.{DuckRewriter, ScanPrune, SqlNormalizer}
import graft.operators.SnapshotOps
import graft.streaming.SnapshotStream

/** `table_write`: a seeded transaction log on a fresh snapshot table
  * through `Engine.executeDuck` — INSERT batches, UPDATE, copy-on-write
  * and merge-on-read DELETE, MERGE, read-after-write SELECTs, time
  * travel, change-feed reads and drains, and a maintenance cycle
  * (compaction, expire_snapshots, vacuum) every round. The dialect/
  * engine/Catalyst path of interactive SQL, plus the metadata plane, the
  * parquet write path and the stream source; reads bypass the hot-table
  * cache. */
final class TableWrite(cfg: Config) extends Workload {
  private val rounds: IndexedSeq[Seq[(String, String)]] = {
    val log = Json.read(s"${cfg.inputs}/log.json").get("log").asScala
      .map(p => (p.get(0).asText, p.get(1).asText)).toSeq
    val ends = log.indices.filter(i => log(i)._1 == "maintenance")
    (-1 +: ends).zip(ends).map { case (a, b) => log.slice(a + 1, b + 1) }
      .toIndexedSeq
  }
  /** versions kept by expire_snapshots: a round commits seven versions,
    * and the next drain's diff starts at the version the last drain
    * ended on, so that one must survive the round's expiry */
  private val Keep = 10
  private var engine: Engine = _
  private var dir: String = _
  private var ckpt: String = _
  private val rng = new scala.util.Random(cfg.seed)
  /** every executed statement, in order, for the DuckDB replay */
  private val executed = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val seenFiles = mutable.Map.empty[String, Long]

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val work = new File(s"${cfg.work}/tw")
    work.mkdirs()
    engine = new Engine(spark)
    engine.workDir = work.getPath
    ckpt = java.nio.file.Files.createTempDirectory(work.toPath, "ckpt").toString
    engine.register("acct",
      spark.read.parquet(s"${cfg.inputs}/acct_base.parquet"))
    // round 0 is the untimed warm-up; its first INSERT makes `acct` a
    // snapshot table
    rounds(0).foreach { case (kind, sql) => exec(ctx, kind, sql, timed = false) }
  }

  def round(ctx: Ctx, r: Int): Unit = {
    require(r + 1 < rounds.size, "transaction log exhausted")
    rounds(r + 1).foreach { case (kind, sql) => exec(ctx, kind, sql, timed = true) }
  }

  private def version: Int =
    if (dir == null) -1 else SnapshotOps.currentVersion(dir)

  /** Sizes of data files that appeared in the table dir since the last
    * call (what the statement wrote). */
  private def newBytes(): Long = {
    var fresh = 0L
    val walk = java.nio.file.Files.walk(new File(dir).toPath)
    try walk.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
      .foreach { p =>
        val k = p.toString
        if (!seenFiles.contains(k)) {
          val n = java.nio.file.Files.size(p)
          seenFiles(k) = n
          fresh += n
        }
      } finally walk.close()
    fresh
  }

  private def rows(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[Row]) =
    (df.columns.toSeq, df.collect().toSeq)

  private def exec(ctx: Ctx, kind: String, sql0: String, timed: Boolean): Unit = {
    def run[T](cls: String, layer: String)(body: => T): Option[T] =
      if (timed) ctx.op(kind, cls, layer)(body)
      else scala.util.Try(body).toOption
    val before = version
    def log(extra: (String, Any)*): Unit =
      executed += (Map("kind" -> kind, "timed" -> timed,
        "traced" -> ctx.traced, "before" -> before, "version" -> version) ++ extra)
    def dialectProbes(sql: String): Unit = {
      ctx.probe("rewrite", "dialect")(DuckRewriter.rewrite(sql, _ => None))
      ctx.probe("normalize", "dialect")(SqlNormalizer.normalize(sql))
      ctx.probe("scan_prune", "dialect")(ScanPrune.analyze(sql))
    }
    // the engine keeps a table's last commit and prune decision until a
    // later statement replaces them: clear both, so that what is read
    // below is this statement's own
    engine.lastCommit.remove("acct")
    engine.lastPrune.remove("acct")
    kind match {
      case "insert" | "update" | "delete" | "merge" =>
        dialectProbes(sql0)
        val ok = run("write", "engine")(engine.executeDuck(sql0).collect()).isDefined
        if (dir == null) dir = engine.snapshotDir("acct").get
        if (ctx.traced) engine.lastCommit.get("acct").foreach { c =>
          ctx.report("engine.files_written_per_commit", c.written)
          ctx.report("engine.files_reused_per_commit", c.reused)
          ctx.report("engine.commit_conflicts", c.conflicts)
        }
        val v = version
        ctx.probe("manifest_read", "meta") {
          ctx.report("meta.live_files", SnapshotOps.snapshotEntries(dir, v).size)
        }
        ctx.probe("prune", "meta")(SnapshotOps.predFiles(dir, v,
          Seq(("id", Some(BigDecimal(0)), Some(BigDecimal(2000))))))
        if (ctx.traced)
          ctx.report("meta.versions_retained", SnapshotOps.availableVersions(dir).size)
        log("sql" -> sql0, "ok" -> ok, "bytes_written" -> newBytes())
      case "select" =>
        dialectProbes(sql0)
        val res = run("read", "engine")(rows(engine.executeDuck(sql0)))
        if (ctx.traced) engine.lastPrune.get("acct").foreach { case (kept, total) =>
          if (total > 0) ctx.report("engine.prune_kept_ratio", kept.toDouble / total)
        }
        log("sql" -> sql0, "ok" -> res.isDefined, "result" -> res.map(resMap))
      case "time_travel" =>
        val vs = SnapshotOps.availableVersions(dir)
        val v = vs(rng.nextInt(vs.size))
        val sql = s"""SELECT k, count(*) AS n, sum(qty) AS s_qty
          |FROM acct VERSION AS OF $v GROUP BY k ORDER BY k""".stripMargin
        dialectProbes(sql)
        val res = run("read", "engine")(rows(engine.executeDuck(sql)))
        log("sql" -> sql, "at" -> v, "ok" -> res.isDefined, "result" -> res.map(resMap))
      case "table_changes" =>
        val b = version
        val a = math.max(SnapshotOps.availableVersions(dir).min + 1, b - 3)
        val sql = s"PRAGMA table_changes('acct', $a, $b)"
        val res = run("read", "engine")(rows(engine.executeDuck(sql)))
        log("sql" -> sql, "from" -> a, "to" -> b, "ok" -> res.isDefined,
          "result" -> res.map(resMap))
      case "drain" =>
        val res = run("read", "stream") {
          val got = mutable.ArrayBuffer.empty[Row]
          var cols = Seq.empty[String]
          SnapshotStream.drainAvailable(ctx.spark, dir, ckpt, mode = "diff") {
            (_, df) => cols = df.columns.toSeq; got ++= df.collect()
          }
          (cols, got.toSeq)
        }
        if (ctx.traced) res.foreach(r => ctx.report("stream.rows_per_drain", r._2.size))
        log("ok" -> res.isDefined, "result" -> res.map(resMap))
      case "maintenance" =>
        val ok = run("maint", "meta") {
          val compacted = SnapshotOps.commitCompact(ctx.spark, dir, 4).version
          // rebind the engine's table to the compacted snapshot
          engine.executeDuck(s"PRAGMA restore_table('acct', $compacted)").collect()
          engine.executeDuck(s"PRAGMA expire_snapshots('acct', $Keep)").collect()
          engine.executeDuck("PRAGMA vacuum('acct')").collect()
        }.isDefined
        log("ok" -> ok, "bytes_written" -> newBytes())
      case _ => // "set" and "stage": untimed session statements
        val ok = scala.util.Try(engine.executeDuck(sql0).collect()).isSuccess
        log("sql" -> sql0, "ok" -> ok)
    }
  }

  private def resMap(r: (Seq[String], Seq[Row])) =
    Map("cols" -> r._1, "rows" -> r._2)

  def finish(ctx: Ctx): Map[String, Any] = {
    def dirBytes(d: File): Long =
      if (d.isDirectory) d.listFiles().map(dirBytes).sum else d.length
    // the live rows written once as fresh parquet: the user-data size
    val fresh = s"${cfg.work}/tw/fresh"
    engine.executeDuck("SELECT * FROM acct").coalesce(1).write.mode("overwrite")
      .parquet(fresh)
    val freshBytes = new File(fresh).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    val liveRows = engine.executeDuck("SELECT count(*) FROM acct").collect()(0).getLong(0)
    val stored = dirBytes(new File(dir))
    ctx.report("meta.stored_bytes_per_user_byte", stored.toDouble / freshBytes)
    Map("executed" -> executed, "stored_bytes" -> stored,
      "fresh_bytes" -> freshBytes, "live_rows" -> liveRows,
      "final" -> resMap(rows(engine.executeDuck("SELECT * FROM acct"))))
  }

  override def close(): Unit = if (engine != null) engine.close()
}
