package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SnapshotOps

/** Cross-PROCESS concurrent-writer probe (r16, the r15 verdict's #6).
  *
  * The commit protocol's CAS is hard-link creation of a fully-written
  * temp manifest (`tryPublishLines`): the filesystem guarantees one
  * winner per version slot across processes, not just threads. The
  * in-JVM two-writer battery (SnapshotOpsSpec) exercises the retry
  * logic; this probe proves the same under REAL multi-process
  * contention — two child JVMs hammering one durable table with
  * interleaved appends and key-merges, one-wins/one-rebases per slot.
  *
  * Driver mode (default): creates the table, seeds v1, spawns two
  * worker JVMs (same classpath, small local sessions), waits, then
  * audits:
  *   - the version chain is CONTIGUOUS and exactly seed + all commits
  *     (every commit landed exactly once — no lost or double slot);
  *   - every worker row is present exactly once and every merge's
  *     final value won (content audit, not just counts);
  *   - every intermediate snapshot parses and reads (no torn
  *     manifest): row counts are non-decreasing along the chain.
  *
  * Worker mode (args: worker <dir> <id> <appends> <merges>): commits
  * `appends` batches of 100 rows tagged (id, batch), then `merges`
  * key-merges re-valuing its own rows — retrying
  * ConcurrentModificationException (a lost CAS after in-commit retries
  * is a rebase-and-retry at this layer, the writer contract).
  *
  * Results recorded in BASELINE.md Round 16. Run:
  * `sbt "runMain graft.CasProbe"` (quiet host; ~1 min).
  */
object CasProbe {
  private val Appends = 10
  private val Merges = 3

  private def session(): SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def retrying[A](what: String)(body: => A): A = {
    var backoff = 50L
    while (true) {
      try return body
      catch { case _: java.util.ConcurrentModificationException =>
        // lost the slot after in-commit retries: rebase (re-read
        // happens inside the commit verb) and go again
        Thread.sleep(backoff + scala.util.Random.nextInt(50))
        backoff = math.min(backoff * 2, 800L)
      }
    }
    throw new IllegalStateException(s"unreachable: $what")
  }

  def worker(dir: String, id: Int, appends: Int, merges: Int): Unit = {
    val spark = session()
    for (b <- 0 until appends)
      retrying(s"append w$id b$b") {
        SnapshotOps.commitAppend(spark, dir,
          spark.range(100).select(lit(id).as("worker"),
            lit(b).as("batch"), col("id").as("i"),
            (col("id") * 0 + 1).as("v")))
      }
    for (m <- 1 to merges)
      retrying(s"merge w$id m$m") {
        // re-value THIS worker's batch-0 rows; key = (worker, batch, i)
        SnapshotOps.commitMerge(spark, dir,
          spark.range(100).select(lit(id).as("worker"),
            lit(0).as("batch"), col("id").as("i"),
            lit(m.toLong * 10).as("v")),
          Seq("worker", "batch", "i"))
      }
    spark.stop()
  }

  private def spawn(dir: String, id: Int): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val opens = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    opens.forEach(a => if (a.startsWith("--add-opens") ||
      a.startsWith("--add-exports") || a.startsWith("-Xmx")) cmd.add(a))
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.CasProbe")
    cmd.add("worker"); cmd.add(dir); cmd.add(id.toString)
    cmd.add(Appends.toString); cmd.add(Merges.toString)
    new ProcessBuilder(cmd).inheritIO().start()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("worker")) {
      worker(args(1), args(2).toInt, args(3).toInt, args(4).toInt)
      return
    }
    val dir = java.nio.file.Files.createTempDirectory("cas_probe")
      .toString + "/t"
    val spark = session()
    SnapshotOps.commitAppend(spark, dir,
      spark.range(1).select(lit(-1).as("worker"), lit(-1).as("batch"),
        col("id").as("i"), lit(0L).as("v")))                       // v1
    val t0 = System.nanoTime()
    val ps = Seq(spawn(dir, 1), spawn(dir, 2))
    val rcs = ps.map(_.waitFor())
    val secs = (System.nanoTime() - t0) / 1e9
    require(rcs.forall(_ == 0), s"worker exit codes: $rcs")
    val expected = 1 + 2 * (Appends + Merges)
    val versions = SnapshotOps.availableVersions(dir)
    println(f"[cas] two processes, ${2 * (Appends + Merges)} commits " +
      f"in $secs%.1f s; versions=${versions.size} (expect $expected)")
    require(versions == (1 to expected),
      s"version chain not contiguous: $versions")
    // content audit: every append row exactly once, merge winners won
    val rows = SnapshotOps.readLatest(spark, dir)
      .groupBy("worker", "batch").agg(count(lit(1)).as("n"),
        sum("v").as("sv"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    for (w <- 1 to 2; b <- 0 until Appends) {
      val (n, sv) = rows((w, b))
      require(n == 100, s"worker $w batch $b: $n rows")
      require(sv == (if (b == 0) 100L * Merges * 10 else 100L),
        s"worker $w batch $b: sum(v)=$sv")
    }
    // no torn manifest anywhere: every snapshot reads, rows never shrink
    val counts = versions.map(v =>
      SnapshotOps.readSnapshot(spark, dir, v).count())
    require(counts.zip(counts.tail).forall { case (a, b) => b >= a },
      s"row counts shrank along the chain: $counts")
    println(s"[cas] audit ok: ${rows.size} (worker,batch) groups, " +
      s"chain counts ${counts.head}..${counts.last}")
    spark.stop()
  }
}
