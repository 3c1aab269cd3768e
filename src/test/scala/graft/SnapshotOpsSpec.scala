package graft

import org.apache.spark.sql.functions._
import graft.operators.SnapshotOps

/** Commit-protocol semantics the SQL oracle can't see: atomic version
  * CAS, two-writer behaviour, file-level COW reuse, immutable history. */
class SnapshotOpsSpec extends SparkSpecBase {

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap").toString + "/t"

  test("tryPublish is a CAS on the version slot: second publisher of the " +
      "same version loses cleanly, wins the next") {
    val t = freshTable()
    assert(SnapshotOps.tryPublish(t, 1, Seq("/a.parquet")))
    assert(!SnapshotOps.tryPublish(t, 1, Seq("/b.parquet")))
    // the loser's data is untouched; rebasing onto v1 and taking v2 works
    assert(SnapshotOps.tryPublish(t, 2, Seq("/a.parquet", "/b.parquet")))
    assert(SnapshotOps.currentVersion(t) == 2)
    assert(SnapshotOps.snapshotFiles(t, 1) == Seq("/a.parquet"))
    assert(SnapshotOps.snapshotFiles(t, 2) ==
      Seq("/a.parquet", "/b.parquet"))
  }

  test("casCommit re-runs a lost attempt on the new head, fails after " +
      "budget + 1 lost attempts, and a Skip burns no version") {
    import SnapshotOps.{casCommit, tryPublish, Committed, Publish, Skip}
    val t = freshTable()
    assert(tryPublish(t, 1, Seq("/a.parquet")))
    // a competitor takes the slot during the first attempt only
    val bases = scala.collection.mutable.ArrayBuffer.empty[Int]
    val won = casCommit("someVerb", t, 3) { (base, conflicts) =>
      bases += base
      if (conflicts == 0)
        assert(tryPublish(t, base + 1, Seq("/rival.parquet")))
      Publish(Seq("/mine.parquet"), 7, 1)
    }
    assert(bases == Seq(1, 2))
    assert(won == Committed(3, 7, 1, 1))
    assert(SnapshotOps.snapshotFiles(t, 2) == Seq("/rival.parquet"))
    assert(SnapshotOps.snapshotFiles(t, 3) == Seq("/mine.parquet"))
    // an attempt that always loses: budget 3 ⇒ exactly 4 calls
    var calls = 0
    val e = intercept[java.util.ConcurrentModificationException](
      casCommit("someVerb", t, 3) { (base, _) =>
        calls += 1
        assert(tryPublish(t, base + 1, Seq("/rival.parquet")))
        Publish(Seq("/mine.parquet"), 0, 1)
      })
    assert(calls == 4)
    assert(e.getMessage == s"someVerb lost 4 version races on $t")
    val head = SnapshotOps.currentVersion(t)
    assert(head == 7)
    val noop = Committed(head, 0, 0, 0, skipped = true)
    assert(casCommit("someVerb", t, 3)((_, _) => Skip(noop)) == noop)
    assert(SnapshotOps.currentVersion(t) == head)
  }

  test("commitMergeWith re-resolves a lost attempt on the new base: " +
      "the retry's rows reflect the competitor's commit") {
    import spark.implicits._
    import SnapshotOps.{MergeCarry, MergeKind, MergeWrite}
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "qty"))                  // v1
    val delta = Seq((1L, 5L), (3L, 7L)).toDF("sid", "dq")
    // UPDATE SET qty = qty + dq for matched ids, INSERT the rest; the
    // first attempt lets a competitor set qty = 100 for id 1 first
    val bases = scala.collection.mutable.ArrayBuffer.empty[Long]
    val c = SnapshotOps.commitMergeWith(spark, t, Seq("id"),
        delta.select(col("sid").as("id")), "MERGE spec") { base =>
      if (bases.isEmpty)
        SnapshotOps.commitMerge(spark, t,
          Seq((1L, 100L)).toDF("id", "qty"), Seq("id"))             // v2
      bases += base.count()
      val j = delta.join(base, col("sid") === col("id"), "left_outer")
      val matched = col("__file").isNotNull
      j.select(coalesce(col("id"), col("sid")).as("id"),
        when(matched, col("qty") + col("dq")).otherwise(col("dq")).as("qty"),
        col("__file"),
        lit(MergeWrite).as(MergeKind))
    }.get
    assert(bases == Seq(2L, 2L), "the lost attempt resolved once, the " +
      s"retry once more: $bases")
    assert(c.version == 3 && c.conflicts == 1, c.toString)
    assert(SnapshotOps.readLatest(spark, t).as[(Long, Long)].collect()
      .sorted.toSeq == Seq((1L, 105L), (2L, 20L), (3L, 7L)))
    // a carried row on a key the resolver changes declines the merge:
    // nothing is written or published
    val declined = SnapshotOps.commitMergeWith(spark, t, Seq("id"),
        Seq(1L).toDF("id"), "MERGE spec") { base =>
      val one = base.where(col("id") === 1L)
      one.withColumn(MergeKind, lit(MergeWrite))
        .unionByName(one.withColumn(MergeKind, lit(MergeCarry)))
    }
    assert(declined.isEmpty)
    assert(SnapshotOps.currentVersion(t) == 3)
  }

  test("two concurrent appends: both land, versions are consecutive, no " +
      "rows lost or duplicated") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t, Seq((0L, "base")).toDF("id", "tag"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CountDownLatch(2)
    def writer(tag: String, ids: Seq[Long]) = Future {
      val df = ids.map(i => (i, tag)).toDF("id", "tag")
      gate.countDown(); gate.await() // line both writers up
      SnapshotOps.commitAppend(spark, t, df)
    }
    val (c1, c2) = (writer("w1", Seq(1L, 2L)), writer("w2", Seq(3L, 4L)))
    val r1 = Await.result(c1, 2.minutes)
    val r2 = Await.result(c2, 2.minutes)
    assert(Set(r1.version, r2.version) == Set(2, 3))
    assert(SnapshotOps.currentVersion(t) == 3)
    val rows = SnapshotOps.readLatest(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq(0L -> "base", 1L -> "w1", 2L -> "w1",
      3L -> "w2", 4L -> "w2"))
    // intermediate snapshot (the winner's) holds exactly base + winner
    val winner = if (r1.version == 2) "w1" else "w2"
    val v2tags = SnapshotOps.readSnapshot(spark, t, 2)
      .select("tag").distinct().collect().map(_.getString(0)).toSet
    assert(v2tags == Set("base", winner))
  }

  test("commitRewrite is copy-on-write at file granularity: untouched " +
      "files are reused byte-for-byte, history stays readable") {
    import spark.implicits._
    val t = freshTable()
    // two appends partitioned by group: 'a' rows and 'b' rows land in
    // different files
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "grp", "v")
        .repartitionByRange(2, col("grp")))
    SnapshotOps.commitAppend(spark, t,
      Seq((3L, "a", 30L), (4L, "b", 40L)).toDF("id", "grp", "v")
        .repartitionByRange(2, col("grp")))
    val v2files = SnapshotOps.snapshotFiles(t, 2)
    val c = SnapshotOps.commitRewrite(spark, t, col("grp") === "a",
      _.withColumn("v", col("v") + 1))
    assert(c.version == 3)
    assert(c.reused >= 1, s"expected byte-for-byte reuse, got $c")
    assert(c.written >= 1)
    val v3files = SnapshotOps.snapshotFiles(t, 3)
    // the reused paths are literally the old paths (no copy happened)
    assert(v3files.toSet.intersect(v2files.toSet).size == c.reused)
    // content: only grp=a rows changed
    val v3 = SnapshotOps.readSnapshot(spark, t, 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    assert(v3 == Seq((1L, "a", 11L), (2L, "b", 20L), (3L, "a", 31L),
      (4L, "b", 40L)))
    // time travel: v1/v2 unchanged after the rewrite (immutable files)
    val v1 = SnapshotOps.readSnapshot(spark, t, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(v1 == Seq(1L -> 10L, 2L -> 20L))
    val v2 = SnapshotOps.readSnapshot(spark, t, 2)
      .agg(sum("v")).head().getLong(0)
    assert(v2 == 100L)
  }

  test("commitCompact collapses files transactionally; vacuum drops old " +
      "manifests and exactly the newly-orphaned data files") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 40L).map(i => (i, i * 10)).toDF("id", "v").repartition(8))
    SnapshotOps.commitAppend(spark, t,
      (41L to 80L).map(i => (i, i * 10)).toDF("id", "v").repartition(8))
    assert(SnapshotOps.snapshotFiles(t, 2).size >= 8)
    val c = SnapshotOps.commitCompact(spark, t, nFiles = 2)
    assert(c.version == 3 && c.written <= 2)
    assert(SnapshotOps.snapshotFiles(t, 3).size <= 2)
    // identical content through the compaction
    def sig(v: Int) = SnapshotOps.readSnapshot(spark, t, v)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(sig(3) == sig(2))
    // vacuum to the last 1 version: v1/v2 manifests go; their
    // fragmented files (referenced by NO retained manifest) go; the
    // compacted files stay readable
    val before = SnapshotOps.snapshotFiles(t, 2).size
    // default grace spares freshly-written files (in-flight-writer
    // protection); graceMs = 0 is the no-live-writers mode this test's
    // deterministic delete counts need
    val (d0, f0) = SnapshotOps.vacuum(t, 1)
    assert(d0 == 2 && f0 == 0, s"default grace must spare fresh files: $d0/$f0")
    val (droppedManifests, deletedFiles) = SnapshotOps.vacuum(t, 1, graceMs = 0)
    assert(droppedManifests == 0) // the grace-window pass above took them
    assert(deletedFiles == before, // v1 files ⊂ v2 files (append reuse)
      s"expected $before orphans deleted, got $deletedFiles")
    assert(SnapshotOps.currentVersion(t) == 3)
    assert(SnapshotOps.readLatest(spark, t).count() == 80)
    // dropped snapshots are really gone
    assertThrows[Exception] { SnapshotOps.snapshotFiles(t, 2) }
  }

  test("statsCols bounds land in the manifest, prune range reads, and " +
      "survive compaction and COW rewrite") {
    import spark.implicits._
    val t = freshTable()
    // range-partitioned appends → disjoint per-file id bounds
    SnapshotOps.commitAppend(spark, t,
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    SnapshotOps.commitAppend(spark, t,
      (101L to 200L).map(i => (i, i * 2)).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    val entries = SnapshotOps.snapshotEntries(t, 2)
    assert(entries.size == 8 && entries.forall(_.bounds.contains("id")))
    // metadata-only pruning: a 10-wide range hits 1-2 of 8 files
    val kept = SnapshotOps.rangeFiles(t, 2, "id", 41, 50)
    assert(kept.size < entries.size,
      s"expected pruning, kept ${kept.size}/${entries.size}")
    val pruned = SnapshotOps.readSnapshotRange(spark, t, 2, "id", 41, 50)
    assert(pruned.agg(sum("v")).as[Long].head() ==
      (41L to 50L).map(_ * 2).sum)
    assert(pruned.count() == 10)
    // compaction recomputes bounds for its output files
    SnapshotOps.commitCompact(spark, t, nFiles = 2)
    assert(SnapshotOps.snapshotEntries(t, 3).forall(_.bounds.contains("id")))
    assert(SnapshotOps.readSnapshotRange(spark, t, 3, "id", 41, 50)
      .count() == 10)
    // COW rewrite: written files get fresh bounds, content stays pinned
    SnapshotOps.commitRewrite(spark, t, col("id") <= 10,
      _.withColumn("v", col("v") + 1000))
    assert(SnapshotOps.snapshotEntries(t, 4).forall(_.bounds.contains("id")))
    assert(SnapshotOps.readSnapshotRange(spark, t, 4, "id", 1, 10)
      .agg(sum("v")).as[Long].head() == (1L to 10L).map(_ * 2 + 1000).sum)
    // metadata-only count(*): every version with stats answers from
    // the manifest alone, surviving compaction and COW
    (2 to 4).foreach { v =>
      assert(SnapshotOps.snapshotRowCount(t, v).contains(200L),
        s"v$v metadata count")
    }
    // row counts are recorded even without statsCols (Iceberg's rule:
    // record counts are not optional) — a stats-free append still
    // answers metadata-only count(*)
    val t2 = freshTable()
    SnapshotOps.commitAppend(spark, t2,
      (1L to 5L).map(i => (i, i)).toDF("id", "v"))
    assert(SnapshotOps.snapshotRowCount(t2, 1).contains(5L))
  }

  test("snapshotDiff is a multiset CDC read over only the changed files: " +
      "appends diff as inserts, a COW update as delete+insert") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 50L).map(i => (i, i * 10)).toDF("id", "v").repartition(4))
    SnapshotOps.commitAppend(spark, t,
      (51L to 60L).map(i => (i, i * 10)).toDF("id", "v").repartition(2))
    // v1→v2 is append-only: the diff reads strictly the appended files
    val d12 = SnapshotOps.snapshotDiff(spark, t, 1, 2)
    assert(d12.where(col("change_type") =!= "insert").count() == 0)
    assert(d12.select("id").as[Long].collect().sorted.toSeq ==
      (51L to 60L))
    SnapshotOps.commitRewrite(spark, t, col("id") === 7L,
      _.withColumn("v", lit(777L)))
    val d23 = SnapshotOps.snapshotDiff(spark, t, 2, 3)
      .select("change_type", "id", "v").as[(String, Long, Long)]
      .collect().toSet
    assert(d23 == Set(("delete", 7L, 70L), ("insert", 7L, 777L)))
    // empty diff: same version both sides
    assert(SnapshotOps.snapshotDiff(spark, t, 3, 3).count() == 0)
    // duplicate rows diff with multiplicity
    SnapshotOps.commitAppend(spark, t,
      Seq((99L, 9L), (99L, 9L)).toDF("id", "v"))
    val d34 = SnapshotOps.snapshotDiff(spark, t, 3, 4)
    assert(d34.where(col("id") === 99L).count() == 2)
  }

  test("txn-marked appends are idempotent per stream: a replayed batch " +
      "skips without writing, a new batch commits") {
    import spark.implicits._
    val t = freshTable()
    val b0 = Seq((1L, "a")).toDF("id", "s")
    val c1 = SnapshotOps.commitAppend(spark, t, b0, txn = Some(("s1", 0L)))
    assert(c1.version == 1 && !c1.skipped)
    // restart replays the last epoch: same (stream, batch) → no-op
    val replay = SnapshotOps.commitAppend(spark, t, b0, txn = Some(("s1", 0L)))
    assert(replay.skipped && replay.version == 1)
    assert(SnapshotOps.currentVersion(t) == 1)
    assert(SnapshotOps.readLatest(spark, t).count() == 1)
    // next batch commits; an unrelated stream's batch 0 also commits
    val c2 = SnapshotOps.commitAppend(spark, t,
      Seq((2L, "b")).toDF("id", "s"), txn = Some(("s1", 1L)))
    assert(c2.version == 2 && !c2.skipped)
    val c3 = SnapshotOps.commitAppend(spark, t,
      Seq((3L, "c")).toDF("id", "s"), txn = Some(("s2", 0L)))
    assert(c3.version == 3 && !c3.skipped)
    assert(SnapshotOps.snapshotMeta(t, 3) - "_ts" ==
      Map("txn.s1" -> "1", "txn.s2" -> "0"))
    // txn watermarks survive maintenance commits
    SnapshotOps.commitCompact(spark, t, nFiles = 1)
    assert(SnapshotOps.snapshotMeta(t, 4)("txn.s1") == "1")
    assert(SnapshotOps.readLatest(spark, t).count() == 3)
  }

  test("schema evolution: evolved append leaves old files untouched, " +
      "merged read defaults the new column, COW backfill rewrites only " +
      "the null-bearing files") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 30L).map(i => (i, i * 2)).toDF("id", "v").repartition(2))
    SnapshotOps.commitAppend(spark, t,
      (31L to 40L).map(i => (i, i * 2, s"tag$i")).toDF("id", "v", "tag")
        .repartition(2))
    // merged read: pre-evolution rows surface tag as null
    val v2 = SnapshotOps.readSnapshot(spark, t, 2, mergeSchema = true)
    assert(v2.columns.toSeq == Seq("id", "v", "tag"))
    assert(v2.where($"tag".isNull).count() == 30)
    // backfill: only the 2 old files rewrite; the evolved files reuse
    val c = SnapshotOps.commitRewrite(spark, t, $"tag".isNull,
      _.withColumn("tag", lit("backfilled")), mergeSchema = true)
    assert(c.reused == 2, s"expected 2 evolved files reused, got $c")
    val v3 = SnapshotOps.readSnapshot(spark, t, 3, mergeSchema = true)
    assert(v3.where($"tag".isNull).count() == 0)
    assert(v3.where($"tag" === "backfilled").count() == 30)
    assert(v3.where($"tag".startsWith("tag")).count() == 10)
    // old snapshot unchanged: v1 still reads the original 2-col shape
    assert(SnapshotOps.readSnapshot(spark, t, 1).columns.toSeq ==
      Seq("id", "v"))
  }

  test("bloomCols: per-file Bloom filters land in the manifest, prune " +
      "point reads on a string key, and survive compaction") {
    import spark.implicits._
    val t = freshTable()
    def batch(lo: Int, hi: Int) = (lo to hi)
      .map(i => (s"k$i", i.toLong)).toDF("k", "v")
      .repartition(4, col("k"))
    SnapshotOps.commitAppend(spark, t, batch(1, 40),
      bloomCols = Seq("k"))
    SnapshotOps.commitAppend(spark, t, batch(41, 80),
      bloomCols = Seq("k"))
    val entries = SnapshotOps.snapshotEntries(t, 2)
    assert(entries.size == 8 && entries.forall(_.blooms.contains("k")))
    // a present key keeps its (hash-partitioned) file + rare fps only
    val kept = SnapshotOps.pointFiles(spark, t, 2, "k", "k7")
    assert(kept.size < entries.size,
      s"expected bloom pruning, kept ${kept.size}/${entries.size}")
    val hit = SnapshotOps.readSnapshotPoint(spark, t, 2, "k", "k7")
    assert(hit.select("v").as[Long].collect().toSeq == Seq(7L))
    // an absent key prunes (nearly) everything and reads zero rows
    assert(SnapshotOps.pointFiles(spark, t, 2, "k", "nope").size <= 2)
    assert(SnapshotOps.readSnapshotPoint(spark, t, 2, "k", "nope")
      .count() == 0)
    // a probe literal narrower than the column type must widen before
    // hashing (Int 7 vs the LongType v column) — an unwidened probe
    // hashes differently than every inserted value and would prune ALL
    // files: the silent-false-negative case
    assert(SnapshotOps.commitAppend(spark, t,
      (81L to 90L).map(i => (s"x$i", i)).toDF("k", "v").repartition(2),
      bloomCols = Seq("v")).version == 3)
    assert(SnapshotOps.readSnapshotPoint(spark, t, 3, "v", 85)
      .count() == 1)
    assert(SnapshotOps.readSnapshotPoint(spark, t, 3, "v", 85L)
      .count() == 1)
    // blooms recompute through compaction
    SnapshotOps.commitCompact(spark, t, nFiles = 2)
    assert(SnapshotOps.snapshotEntries(t, 4).forall(_.blooms.contains("k")))
    assert(SnapshotOps.readSnapshotPoint(spark, t, 4, "k", "k55")
      .select("v").as[Long].collect().toSeq == Seq(55L))
  }

  test("commitCompactSmall bin-packs only the small files, reuses " +
      "at-size files byte-for-byte, and no-ops when nothing qualifies") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 10000L).map(i => (i, i * 3)).toDF("id", "v").repartition(1))
    SnapshotOps.commitAppend(spark, t,
      (10001L to 10060L).map(i => (i, i * 3)).toDF("id", "v")
        .repartition(6))
    val bigFile = SnapshotOps.snapshotFiles(t, 1).head
    val target = new java.io.File(bigFile).length()
    val c = SnapshotOps.commitCompactSmall(spark, t, target)
    assert(!c.skipped && c.version == 3)
    assert(c.reused == 1, s"big file should be reused: $c")
    assert(c.written == 1, s"six small files should pack to one: $c")
    // byte-for-byte reuse: the big file's manifest line survives
    assert(SnapshotOps.snapshotFiles(t, 3).contains(bigFile))
    // content identical through the policy pass
    assert(SnapshotOps.readSnapshot(spark, t, 3).agg(sum("v"))
      .head.getLong(0) ==
      SnapshotOps.readSnapshot(spark, t, 2).agg(sum("v")).head.getLong(0))
    assert(SnapshotOps.readSnapshot(spark, t, 3).count() == 10060)
    // second pass: one small (merged) file left -> nothing to do
    val c2 = SnapshotOps.commitCompactSmall(spark, t, target)
    assert(c2.skipped && SnapshotOps.currentVersion(t) == 3)
  }

  test("commitCompactSmall sizes a line without _bytes from the file " +
      "and a line with it from the manifest") {
    import spark.implicits._
    val t = freshTable()
    // six small files where the engine keeps data, published as plain
    // path lines (the pre-_bytes manifest shape)
    val dir = s"$t/data/legacy"
    (1L to 60L).map(i => (i, i * 3)).toDF("id", "v").repartition(6)
      .write.parquet(dir)
    val files = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(files.size == 6)
    val target = 1L << 20
    // the first line records a target-size `_bytes`: the manifest, not
    // the filesystem, decides it is at size, so it is reused
    assert(SnapshotOps.tryPublish(t, 1,
      s"${files.head}\t_bytes=$target..$target" +: files.tail))
    val c = SnapshotOps.commitCompactSmall(spark, t, target)
    assert(c.version == 2 && c.reused == 1 && c.written == 1, c.toString)
    val v2 = SnapshotOps.snapshotFiles(t, 2)
    assert(v2.contains(files.head) && files.tail.forall(!v2.contains(_)))
    // the packed file holds exactly the five sized-by-file files' rows
    assert(spark.read.parquet(v2.filterNot(_ == files.head): _*)
      .as[(Long, Long)].collect().sorted.toSeq ==
      spark.read.parquet(files.tail: _*).as[(Long, Long)].collect()
        .sorted.toSeq)
  }

  test("commitMerge upserts copy-on-write: matched rows replace in only " +
      "their files, unmatched source rows append, dup sources refuse") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 40L).map(i => (i, i * 10)).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    val src = ((35L to 40L).map(i => (i, i * 10 + 1000)) ++
      (41L to 45L).map(i => (i, i * 100))).toDF("id", "v")
    val c = SnapshotOps.commitMerge(spark, t, src, Seq("id"))
    assert(c.version == 2)
    assert(c.reused >= 1, s"low-id files should carry forward: $c")
    val got = SnapshotOps.readLatest(spark, t)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 45)
    assert(got(10L) == 100L)            // untouched
    assert(got(38L) == 1380L)           // updated
    assert(got(43L) == 4300L)           // inserted
    // stats survive the merge (written files recompute bounds)
    assert(SnapshotOps.snapshotEntries(t, 2).forall(_.bounds.contains("id")))
    // v1 history intact
    assert(SnapshotOps.readSnapshot(spark, t, 1).count() == 40)
    // a key-duplicated source is refused (order-dependent otherwise)
    assertThrows[IllegalArgumentException] {
      SnapshotOps.commitMerge(spark, t,
        Seq((1L, 2L), (1L, 3L)).toDF("id", "v"), Seq("id"))
    }
  }

  test("commitMerge bucket-spec probe pruning (r16): a merge keyed on " +
      "the bucket column opens only the source keys' buckets with " +
      "auto_stats off — no recorded key bounds needed") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitSetPartitionSpec(t,
      Seq(SnapshotOps.parsePartField("bucket(8, id)")))             // v1
    // NO statsCols: the only skippable metadata is the derived `_p.`
    // bucket bound the spec write records
    SnapshotOps.commitAppend(spark, t,
      (1L to 400L).map(i => (i, i * 10)).toDF("id", "v"))           // v2
    val total = SnapshotOps.snapshotFileCount(t, 2)
    assert(total >= 8, s"expected >=8 bucket files, got $total")
    assert(!SnapshotOps.snapshotEntries(t, 2)
      .exists(_.bounds.contains("id")), "no raw key bounds recorded")
    // a 2-key source hits at most 2 buckets; the commit must REUSE
    // every other bucket's file
    val c = SnapshotOps.commitMerge(spark, t,
      Seq((7L, 7777L), (250L, 8888L)).toDF("id", "v"), Seq("id"))
    assert(c.version == 3)
    assert(c.reused >= total - 2,
      s"bucket probe should reuse all non-matching buckets: $c " +
        s"(total $total)")
    val got = SnapshotOps.readLatest(spark, t)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 400 && got(7L) == 7777L && got(250L) == 8888L
      && got(8L) == 80L)
    // deletes ride the same probe: a delete-only merge keeps the
    // delete key's bucket in the candidate set
    val c2 = SnapshotOps.commitMergeWith(spark, t, Seq("id"),
        Seq(250L).toDF("id"), "MERGE spec") { base =>
      base.where(col("id") === 250L)
        .withColumn(SnapshotOps.MergeKind, lit(SnapshotOps.MergeDelete))
    }.get
    assert(SnapshotOps.readLatest(spark, t).count() == 399)
    assert(c2.reused >= total - 2, s"delete-only merge over-rewrote: $c2")
  }

  test("commitCluster z-orders the snapshot: two-dim box reads prune " +
      "strictly better than the hash layout, content is unchanged") {
    import spark.implicits._
    val t = freshTable()
    // 32x32 grid in hash layout: every file spans both full ranges
    SnapshotOps.commitAppend(spark, t,
      (0L until 1024L).map(i => (i % 32, i / 32, i)).toDF("x", "y", "id")
        .repartition(8), statsCols = Seq("x", "y"))
    val box = Seq(("x", BigDecimal(4), BigDecimal(9)),
      ("y", BigDecimal(4), BigDecimal(9)))
    val before = SnapshotOps.boxFiles(t, 1, box).size
    SnapshotOps.commitCluster(spark, t, "x", "y", nFiles = 8, bits = 6)
    val entries = SnapshotOps.snapshotEntries(t, 2)
    assert(entries.size == 8 &&
      entries.forall(e => e.bounds.contains("x") && e.bounds.contains("y")))
    val after = SnapshotOps.boxFiles(t, 2, box).size
    assert(after < before,
      s"z-order should prune the box: $after vs $before of 8")
    // content identical through the layout change, box read exact
    val ids = SnapshotOps.readSnapshotBox(spark, t, 2, box)
      .select("id").as[Long].collect().sorted.toSeq
    val expect = (0L until 1024L)
      .filter(i => (4 to 9).contains((i % 32).toInt) &&
        (4 to 9).contains((i / 32).toInt))
    assert(ids == expect)
    assert(SnapshotOps.readSnapshot(spark, t, 2).count() == 1024)
  }

  test("write-audit-publish: staged files are invisible on main, reject " +
      "leaves main untouched, publish lands atomically, orphans vacuum") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20L).map(i => (i, i)).toDF("id", "v"))
    // stage a dirty batch (v <= 0 violates the audit rule)
    SnapshotOps.stageAppend(spark, t, "ing",
      (21L to 25L).map(i => (i, -1L)).toDF("id", "v"))
    assert(SnapshotOps.readLatest(spark, t).count() == 20) // invisible
    val branchView = SnapshotOps.readBranch(spark, t, "ing")
    assert(branchView.count() == 25)
    assert(branchView.where($"v" <= 0).count() == 5) // audit fails
    assert(SnapshotOps.dropBranch(t, "ing"))
    assert(SnapshotOps.currentVersion(t) == 1) // reject: main untouched
    assert(SnapshotOps.readLatest(spark, t).count() == 20)
    // second attempt, clean: audit passes, publish = pure metadata
    SnapshotOps.stageAppend(spark, t, "ing",
      (21L to 25L).map(i => (i, i)).toDF("id", "v"))
    assert(SnapshotOps.readBranch(spark, t, "ing")
      .where($"v" <= 0).count() == 0)
    val c = SnapshotOps.publishBranch(t, "ing")
    assert(c.version == 2)
    assert(SnapshotOps.readLatest(spark, t).count() == 25)
    assert(!SnapshotOps.dropBranch(t, "ing")) // pointer consumed
    // a LIVE branch's staged files are pinned against vacuum — only
    // the rejected batch's files (no pointer) are orphans
    SnapshotOps.stageAppend(spark, t, "parked",
      (26L to 28L).map(i => (i, i)).toDF("id", "v"))
    val (_, deleted) = SnapshotOps.vacuum(t, 2, graceMs = 0)
    assert(deleted >= 1, "rejected staged files should vacuum")
    assert(SnapshotOps.readLatest(spark, t).count() == 25)
    assert(SnapshotOps.readBranch(spark, t, "parked").count() == 28,
      "parked branch must survive vacuum intact")
    val c2 = SnapshotOps.publishBranch(t, "parked")
    assert(SnapshotOps.readLatest(spark, t).count() == 28 &&
      c2.version == 3)
  }

  test("publishBranch with a txn watermark is idempotent: a replayed " +
      "epoch's publish skips, consumes the branch, appends nothing") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t, Seq((1L, 1L)).toDF("id", "v"))
    SnapshotOps.stageAppend(spark, t, "b0",
      Seq((2L, 2L)).toDF("id", "v"))
    val c = SnapshotOps.publishBranch(t, "b0", txn = Some(("s", 0L)))
    assert(c.version == 2 && !c.skipped)
    // replay: stage the same epoch again, publish must skip
    SnapshotOps.stageAppend(spark, t, "b0r",
      Seq((2L, 2L)).toDF("id", "v"))
    val r = SnapshotOps.publishBranch(t, "b0r", txn = Some(("s", 0L)))
    assert(r.skipped && r.version == 2)
    assert(SnapshotOps.currentVersion(t) == 2)
    assert(SnapshotOps.readLatest(spark, t).count() == 2)
    assert(!SnapshotOps.dropBranch(t, "b0r")) // pointer consumed
    // the next epoch still publishes
    SnapshotOps.stageAppend(spark, t, "b1", Seq((3L, 3L)).toDF("id", "v"))
    assert(SnapshotOps.publishBranch(t, "b1",
      txn = Some(("s", 1L))).version == 3)
  }

  test("publishBranch without a txn is crash-idempotent: re-publishing a " +
      "branch whose files already joined main skips on the content " +
      "fingerprint instead of appending twice") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t, Seq((1L, 1L)).toDF("id", "v"))
    SnapshotOps.stageAppend(spark, t, "bx", Seq((2L, 2L)).toDF("id", "v"))
    val bp = java.nio.file.Paths.get(t, "manifests", "branch-bx.manifest")
    val staged = java.nio.file.Files.readAllBytes(bp)
    assert(SnapshotOps.publishBranch(t, "bx").version == 2)
    // crash window: the manifest CAS won but the branch pointer never
    // deleted — restart sees the stale branch and re-publishes it
    java.nio.file.Files.write(bp, staged)
    val r = SnapshotOps.publishBranch(t, "bx")
    assert(r.skipped && r.version == 2)
    assert(SnapshotOps.currentVersion(t) == 2)
    assert(SnapshotOps.readLatest(spark, t).count() == 2) // no dup rows
    assert(!java.nio.file.Files.exists(bp)) // pointer consumed this time
    // same branch NAME with fresh content is a different fingerprint
    // and still publishes
    SnapshotOps.stageAppend(spark, t, "bx", Seq((3L, 3L)).toDF("id", "v"))
    assert(SnapshotOps.publishBranch(t, "bx").version == 3)
    assert(SnapshotOps.readLatest(spark, t).count() == 3)
  }

  test("manifest groups: append carries the base manifest's lines " +
      "forward verbatim and adds one @group line; commit metadata cost " +
      "tracks the commit, not the table") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 100L).map(i => (i, i)).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    SnapshotOps.commitAppend(spark, t,
      (101L to 200L).map(i => (i, i)).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    def bodyLines(v: Int): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "manifests", s"v$v.manifest")), "UTF-8")
        .split("\n").filterNot(l => l.isEmpty || l.startsWith("#")).toSeq
    val (v1, v2) = (bodyLines(1), bodyLines(2))
    assert(v1.size == 1 && v1.head.startsWith("@"),
      "a commit's files land as ONE group line")
    assert(v2.size == 2 && v2.head == v1.head,
      "the base group line carries forward byte-identical")
    // the group line's envelope aggregates its members: 4 files,
    // summed rows, id bounds spanning the commit
    val env = SnapshotOps.snapshotEntries(t, 2)
    assert(env.size == 8)
    assert(v2.head.contains("_files=4..4"))
    assert(v2.head.contains("_rows=100..100"))
    // metadata-only count comes from the group lines alone
    assert(SnapshotOps.snapshotRowCount(t, 2).contains(200L))
  }

  test("group-level pruning is lazy: a group whose envelope/bloom " +
      "misses the predicate is never parsed (its group file may not " +
      "even exist)") {
    import spark.implicits._
    val t = freshTable()
    // one REAL group: two parquet files + a hand-built group file
    val dataDir = s"$t/data/real"
    (1L to 10L).map(i => (i, i)).toDF("id", "v")
      .repartitionByRange(2, col("id")).write.parquet(dataDir)
    val files = Option(new java.io.File(dataDir).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    val gd = java.nio.file.Paths.get(t, "manifests", "groups")
    java.nio.file.Files.createDirectories(gd)
    val g1 = gd.resolve("g-real.grp")
    java.nio.file.Files.write(g1,
      files.map(f => s"$f\tid=1..10\t_rows=5..5").mkString("\n").getBytes)
    // a bloom admitting ONLY xxhash64(42L), for the bloom-prune leg
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1L << 12, 1L << 15)
    bf.putLong(new XxHash64(Seq(Literal(42L))).eval(null).asInstanceOf[Long])
    val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
    val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    // PRUNABLE groups whose files deliberately DO NOT EXIST: if
    // planning ever expanded one, the call would throw — absence of a
    // throw IS the laziness proof (no parse cache can fake a file
    // that was never written)
    val realLine = s"@${g1}\tid=1..10\t_files=2..2\t_rows=10..10"
    val ghostRange = s"@${gd.resolve("ghost-range.grp")}\tid=1000..2000\t_files=9..9"
    assert(SnapshotOps.tryPublish(t, 1, Seq(realLine, ghostRange)))
    // [1,10] intersects only the real group; ghost-range's envelope
    // misses → never expanded → no NoSuchFileException
    assert(SnapshotOps.rangeFiles(t, 1, "id", 1, 10).toSet == files.toSet)
    assert(SnapshotOps.boxFiles(t, 1,
      Seq(("id", BigDecimal(1), BigDecimal(10)))).toSet == files.toSet)
    // bloom leg on a second table: the ghost's union bloom admits only
    // xxhash64(42L); probing 7 prunes the group without expanding it
    val t2 = freshTable()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(t2, "manifests", "groups"))
    val ghostBloom = s"@${java.nio.file.Paths.get(t2, "manifests", "groups")
      .resolve("ghost-bloom.grp")}\t_files=9..9\t~id=$b64"
    assert(SnapshotOps.tryPublish(t2, 1, Seq(realLine, ghostBloom)))
    assert(SnapshotOps.pointFiles(spark, t2, 1, "id", 7L).toSet ==
      files.toSet)
    // and the probe the bloom ADMITS does expand it → the ghost throws
    intercept[Exception] {
      SnapshotOps.pointFiles(spark, t2, 1, "id", 42L)
    }
    succeed
  }

  test("readSnapshotRange/Point hand the scan EXACTLY the kept files: " +
      "pruned files are absent from the scan's file index (the q238/" +
      "q248/q252 read path actually skips IO, not just manifest lines)") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 100L).map(i => (i, s"k$i")).toDF("id", "k")
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"), bloomCols = Seq("k"))
    SnapshotOps.commitAppend(spark, t,
      (101L to 200L).map(i => (i, s"k$i")).toDF("id", "k")
        .repartitionByRange(4, col("id")),
      statsCols = Seq("id"), bloomCols = Seq("k"))
    val all = SnapshotOps.snapshotFiles(t, 2).toSet
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.toSeq
            .map(p => if (p.startsWith("file:"))
              java.nio.file.Paths.get(java.net.URI.create(p)).toString
            else p)
      }.flatten.toSet
    val keptR = SnapshotOps.rangeFiles(t, 2, "id", 41, 50).toSet
    assert(keptR.nonEmpty && keptR.size < all.size)
    assert(scannedFiles(
      SnapshotOps.readSnapshotRange(spark, t, 2, "id", 41, 50)) == keptR)
    val keptP = SnapshotOps.pointFiles(spark, t, 2, "k", "k150").toSet
    assert(keptP.nonEmpty && keptP.size < all.size)
    assert(scannedFiles(
      SnapshotOps.readSnapshotPoint(spark, t, 2, "k", "k150")) == keptP)
  }

  test("vacuum GCs group files: dropped versions' groups delete, the " +
      "retained snapshot's groups survive") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 50L).map(i => (i, i)).toDF("id", "v"), statsCols = Seq("id"))
    SnapshotOps.commitAppend(spark, t,
      (51L to 100L).map(i => (i, i)).toDF("id", "v"), statsCols = Seq("id"))
    SnapshotOps.commitCompact(spark, t, nFiles = 1) // v3 references only its own group
    val gd = new java.io.File(s"$t/manifests/groups")
    assert(gd.listFiles().length >= 3)
    SnapshotOps.vacuum(t, keepVersions = 1, graceMs = 0)
    val left = gd.listFiles().map(_.getPath).toSet
    assert(left.size == 1, s"expected only v3's group, got $left")
    // the survivor is exactly v3's group and the snapshot still reads
    assert(SnapshotOps.readLatest(spark, t).count() == 100)
    assert(SnapshotOps.snapshotRowCount(t, 3).contains(100L))
  }

  test("readSnapshot(0) is the empty table; commitRewrite on it refuses") {
    import spark.implicits._
    val t = freshTable()
    assert(SnapshotOps.currentVersion(t) == 0)
    assert(SnapshotOps.readSnapshot(spark, t, 0,
      Seq((1L, "x")).toDF("id", "tag").schema).collect().isEmpty)
    assertThrows[IllegalArgumentException] {
      SnapshotOps.commitRewrite(spark, t, lit(true), identity)
    }
  }

  test("commitDelete is merge-on-read: no data file rewritten, reads " +
      "and metadata count(*) see the deletes, history is immune") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 100L).map(i => (i, s"r$i")).toDF("id", "tag")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    val filesV1 = SnapshotOps.snapshotFiles(t, 1).toSet
    val c = SnapshotOps.commitDelete(spark, t, col("id") % 10 === 0)
    assert(c.version == 2 && c.written == 0 && !c.skipped)
    assert(c.reused == filesV1.size, "every data file reused")
    // the data-file set is UNCHANGED — that's the whole point
    assert(SnapshotOps.snapshotFiles(t, 2).toSet == filesV1)
    val (dvFiles, dvRows) = SnapshotOps.deleteStats(t, 2)
    assert(dvFiles > 0 && dvRows == 10L)
    // reads apply the DV; metadata-only count agrees; history intact
    assert(SnapshotOps.readLatest(spark, t).count() == 90)
    assert(SnapshotOps.readLatest(spark, t)
      .where(col("id") % 10 === 0).isEmpty)
    assert(SnapshotOps.snapshotRowCount(t, 2).contains(90L))
    assert(SnapshotOps.readSnapshot(spark, t, 1).count() == 100)
    // pruned reads apply it too
    assert(SnapshotOps.readSnapshotRange(spark, t, 2, "id", 1, 30)
      .count() == 27)
    // a second delete stacks; a no-match delete burns no version
    SnapshotOps.commitDelete(spark, t, col("id") === 7L)
    assert(SnapshotOps.snapshotRowCount(t, 3).contains(89L))
    val noop = SnapshotOps.commitDelete(spark, t, col("id") === 10L)
    assert(noop.skipped && SnapshotOps.currentVersion(t) == 3)
  }

  test("a large DV (over the literal-filter threshold) applies through " +
      "the anti-join path: counts, pruned reads and consolidation hold") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 150000L).map(i => (i, i % 7)).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    // ~86k positions: past DvLiteralRows (64k), so reads take the
    // broadcast anti-join branch instead of the literal InSet
    val c = SnapshotOps.commitDelete(spark, t, col("id") % 7 =!= 0)
    assert(!c.skipped && c.written == 0)
    val (_, dvRows) = SnapshotOps.deleteStats(t, c.version)
    val expectLive = 150000L / 7 // ids divisible by 7
    assert(dvRows == 150000L - expectLive)
    assert(SnapshotOps.readLatest(spark, t).count() == expectLive)
    assert(SnapshotOps.snapshotRowCount(t, c.version)
      .contains(expectLive))
    // pruned range read through the join path stays exact
    assert(SnapshotOps.readSnapshotRange(spark, t, c.version,
      "id", 1, 700).count() == 100)
    // compaction folds the large DV away
    val cc = SnapshotOps.commitCompact(spark, t, 2)
    assert(SnapshotOps.deleteStats(t, cc.version) == ((0, 0L)))
    assert(SnapshotOps.readLatest(spark, t).count() == expectLive)
  }

  test("past DvBroadcastRows the DV anti-join falls back to a shuffle " +
      "join: no broadcast build on the compaction-debt path") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20000L).map(i => (i, i % 3)).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    // ~13.3k deleted positions; thresholds injected so this size sits
    // ABOVE the broadcast tier — the shape a 100 TB table with heavy
    // compaction debt takes, where the DV is no broadcast candidate
    val c = SnapshotOps.commitDelete(spark, t, col("id") % 3 =!= 0)
    val (_, dvRows) = SnapshotOps.deleteStats(t, c.version)
    assert(dvRows > 4096)
    SnapshotOps.withDvThresholds(literal = 64, bcast = 4096) {
      // simulate at-scale planner conditions: no size-estimate auto-
      // broadcast either (at real DV sizes the estimates forbid it)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val live = SnapshotOps.readLatest(spark, t)
        assert(live.count() == 20000L / 3) // ids % 3 == 0: 6666
        val plan = live.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"),
          s"shuffle tier must not broadcast-build:\n$plan")
        assert(plan.contains("SortMergeJoin") ||
          plan.contains("ShuffledHashJoin"),
          s"expected a shuffle join on the DV anti-join:\n$plan")
        // pruned + point reads through the shuffle tier stay exact
        assert(SnapshotOps.readSnapshotRange(spark, t, c.version,
          "id", 1, 300).count() == 100)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    // same snapshot under production thresholds: the 13k-position DV
    // is back under the literal tier and content is identical
    assert(SnapshotOps.readLatest(spark, t).count() == 20000L / 3)
  }

  test("two racing MOR deletes both land: the loser rebases and its " +
      "recomputed positions exclude the winner's deletions") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 100L).map(i => (i, i)).toDF("id", "v"), statsCols = Seq("id"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CountDownLatch(2)
    def deleter(cond: org.apache.spark.sql.Column) = Future {
      gate.countDown(); gate.await()
      SnapshotOps.commitDelete(spark, t, cond)
    }
    val f1 = deleter(col("id") <= 10L)
    val f2 = deleter(col("id") > 90L)
    val c1 = Await.result(f1, 2.minutes)
    val c2 = Await.result(f2, 2.minutes)
    assert(Set(c1.version, c2.version) == Set(2, 3))
    assert(SnapshotOps.readLatest(spark, t).count() == 80)
    assert(SnapshotOps.deleteStats(t, 3)._2 == 20L)
    assert(SnapshotOps.snapshotRowCount(t, 3).contains(80L))
  }

  test("rewrite-class commits consolidate DVs (rows for rewritten " +
      "files drop) and full compaction pays the debt off entirely") {
    import spark.implicits._
    val t = freshTable()
    // two range-separated files: deletes land in both
    SnapshotOps.commitAppend(spark, t,
      (1L to 100L).map(i => (i, 0L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), statsCols = Seq("id"))
    SnapshotOps.commitDelete(spark, t, col("id").isin(5L, 95L))
    assert(SnapshotOps.snapshotRowCount(t, 2).contains(98L))
    // COW update touching ONLY the low file: its DV rows bake into the
    // rewrite; the high file's DV row survives consolidation
    val r = SnapshotOps.commitRewrite(spark, t, col("id") === 10L,
      _.withColumn("v", lit(1L)))
    assert(!r.skipped)
    val (_, dvRows) = SnapshotOps.deleteStats(t, r.version)
    assert(dvRows == 1L, "only the untouched file's DV row survives")
    assert(SnapshotOps.snapshotRowCount(t, r.version).contains(98L))
    val live = SnapshotOps.readLatest(spark, t)
    assert(live.count() == 98)
    assert(live.where(col("id").isin(5L, 95L)).isEmpty)
    assert(live.where(col("id") === 10L && col("v") === 1L).count() == 1)
    // full compaction purges every DV line and bakes the deletes in
    val cc = SnapshotOps.commitCompact(spark, t, 1)
    assert(SnapshotOps.deleteStats(t, cc.version) == ((0, 0L)))
    assert(SnapshotOps.readLatest(spark, t).count() == 98)
    assert(SnapshotOps.snapshotRowCount(t, cc.version).contains(98L))
  }

  test("snapshotDiff across a MOR update emits delete(old)+insert(new) " +
      "for exactly the updated rows") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 30L).map(i => (i, 0L)).toDF("id", "v")
        .repartitionByRange(3, col("id")), statsCols = Seq("id"))
    SnapshotOps.commitUpdateMoR(spark, t, col("id").isin(7L, 20L),
      _.withColumn("v", lit(9L)))
    val d = SnapshotOps.snapshotDiff(spark, t, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[String]("change_type")))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(d == Seq((7L, 0L, "delete"), (7L, 9L, "insert"),
      (20L, 0L, "delete"), (20L, 9L, "insert")))
  }

  test("snapshotDiff across a MOR delete emits exactly the deleted " +
      "rows, reading only DV-touched files") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 50L).map(i => (i, s"r$i")).toDF("id", "tag")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    SnapshotOps.commitDelete(spark, t, col("id").isin(3L, 40L))
    val d = SnapshotOps.snapshotDiff(spark, t, 1, 2)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"),
        r.getAs[String]("change_type"))).sortBy(_._1).toSeq
    assert(d == Seq((3L, "r3", "delete"), (40L, "r40", "delete")))
    // and the reverse direction reports them as inserts
    val rev = SnapshotOps.snapshotDiff(spark, t, 2, 1)
      .select("change_type").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(rev == Seq("insert"))
  }

  test("versionAsOf resolves TIMESTAMP AS OF against per-commit " +
      "stamps; readAppendsSince reads only the appended units and " +
      "refuses non-append spans") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "a"), (2L, "a")).toDF("id", "tag"))
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    SnapshotOps.commitAppend(spark, t,
      Seq((3L, "b")).toDF("id", "tag"))
    assert(SnapshotOps.versionAsOf(t, between).contains(1))
    assert(SnapshotOps.versionAsOf(t,
      System.currentTimeMillis() + 1000).contains(2))
    assert(SnapshotOps.versionAsOf(t,
      SnapshotOps.snapshotTimestamp(t, 1).get - 1).isEmpty)
    assert(SnapshotOps.readSnapshotAsOf(spark, t, between).count() == 2)
    // incremental read: exactly the appended rows, not the base
    val inc = SnapshotOps.readAppendsSince(spark, t, 1, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(inc == Seq((3L, "b")))
    assert(SnapshotOps.readAppendsSince(spark, t, 2, 2).isEmpty)
    // a MOR delete between appends: deleted rows don't surface in the
    // incremental read (to-side DVs apply)
    SnapshotOps.commitDelete(spark, t, col("id") === 3L)
    SnapshotOps.commitAppend(spark, t, Seq((4L, "c")).toDF("id", "tag"))
    val inc2 = SnapshotOps.readAppendsSince(spark, t, 1, 4)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(inc2 == Seq(4L))
    // a rewrite breaks append-shape: the fast path must refuse
    SnapshotOps.commitRewrite(spark, t, col("id") === 1L,
      _.withColumn("tag", lit("z")))
    assertThrows[IllegalArgumentException] {
      SnapshotOps.readAppendsSince(spark, t, 1, 5)
    }
  }

  test("commitClusterN: 3-D z-order gives every dimension metadata " +
      "pruning; zOrderN(k=2) is exactly zOrder2") {
    import spark.implicits._
    import graft.operators.LayoutOps
    // equivalence of the generalization on the 2-D case
    val z2 = Seq((5L, 3L)).toDF("a", "b")
      .select(LayoutOps.zOrder2(col("a"), col("b"), 3),
        LayoutOps.zOrderN(Seq(col("a"), col("b")), 3)).head()
    assert(z2.getLong(0) == z2.getLong(1) && z2.getLong(0) == 27L)
    val t = freshTable()
    val cube = (for (a <- 0L until 16L; b <- 0L until 16L;
      c <- 0L until 16L) yield (a, b, c)).toDF("ka", "kb", "kc")
    SnapshotOps.commitAppend(spark, t, cube.repartition(4),
      statsCols = Seq("ka"))
    SnapshotOps.commitClusterN(spark, t, Seq("ka", "kb", "kc"),
      nFiles = 16, bits = 4)
    val all = SnapshotOps.snapshotFiles(t, 2)
    assert(all.size > 8)
    // each single-dimension slice prunes from the manifest alone
    Seq("ka", "kb", "kc").foreach { c =>
      val kept = SnapshotOps.rangeFiles(t, 2, c, 2, 5)
      assert(kept.size < all.size, s"$c kept ${kept.size}/${all.size}")
      assert(SnapshotOps.readSnapshotRange(spark, t, 2, c, 2, 5)
        .count() == 4 * 16 * 16)
    }
    // and the 3-sided box prunes hardest
    val box = Seq(("ka", BigDecimal(2), BigDecimal(5)),
      ("kb", BigDecimal(2), BigDecimal(5)),
      ("kc", BigDecimal(2), BigDecimal(5)))
    val kept3 = SnapshotOps.boxFiles(t, 2, box)
    assert(kept3.size <= all.size / 2,
      s"3-D box kept ${kept3.size}/${all.size}")
    assert(SnapshotOps.readSnapshotBox(spark, t, 2, box).count() == 64)
  }

  test("DVs compose with schema evolution: merged read applies the DV " +
      "and surfaces pre-evolution rows with the new column null") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20L).map(i => (i, i)).toDF("id", "v"), statsCols = Seq("id"))
    SnapshotOps.commitDelete(spark, t, col("id") <= 5L)
    SnapshotOps.commitAppend(spark, t,
      Seq((21L, 21L, "w21")).toDF("id", "v", "w"), statsCols = Seq("id"))
    val merged = SnapshotOps.readSnapshot(spark, t, 3, mergeSchema = true)
    assert(merged.count() == 16)
    assert(merged.where(col("id") <= 5L).isEmpty)
    assert(merged.where(col("w").isNotNull).count() == 1)
    assert(merged.columns.toSet == Set("id", "v", "w"))
  }

  test("commitUpdateMoR updates without rewriting any file: positions " +
      "delete + updated rows append in one version; compaction folds " +
      "it all in") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 100L).map(i => (i, 0L)).toDF("id", "v")
        .repartitionByRange(4, col("id")), statsCols = Seq("id"))
    val filesV1 = SnapshotOps.snapshotFiles(t, 1).toSet
    val c = SnapshotOps.commitUpdateMoR(spark, t, col("id") % 10 === 0,
      _.withColumn("v", lit(7L)))
    assert(c.version == 2 && !c.skipped)
    assert(c.reused == filesV1.size, "every base file reused")
    // base files all carried; only NEW files (the updated rows) added
    assert(filesV1.subsetOf(SnapshotOps.snapshotFiles(t, 2).toSet))
    val live = SnapshotOps.readLatest(spark, t)
    assert(live.count() == 100)
    assert(live.where(col("v") === 7L).count() == 10)
    assert(live.where(col("id") % 10 === 0 && col("v") =!= 7L).isEmpty)
    assert(SnapshotOps.snapshotRowCount(t, 2).contains(100L))
    // old version unaffected; no-match update burns no version
    assert(SnapshotOps.readSnapshot(spark, t, 1)
      .where(col("v") === 7L).isEmpty)
    assert(SnapshotOps.commitUpdateMoR(spark, t, col("id") > 999L,
      identity).skipped)
    // compaction pays the debt: DVs purge, content survives
    val cc = SnapshotOps.commitCompact(spark, t, 1)
    assert(SnapshotOps.deleteStats(t, cc.version) == ((0, 0L)))
    assert(SnapshotOps.readLatest(spark, t)
      .where(col("v") === 7L).count() == 10)
  }

  test("layout evolution (hidden partitioning): files from different " +
      "layout eras prune independently, stat-less files never skip") {
    import spark.implicits._
    val t = freshTable()
    val grid = (for (a <- 1L to 100L; b <- Seq(1L, 50L, 100L))
      yield (a, b)).toDF("ka", "kb")
    // era 1: ka-ranged layout; era 2: kb-ranged layout — the manifest
    // records per-file bounds for BOTH, so pruning is per-file and
    // layout-agnostic (Iceberg's partition-evolution property: old
    // files keep their old layout, planning adapts)
    SnapshotOps.commitAppend(spark, t,
      grid.repartitionByRange(4, col("ka")), statsCols = Seq("ka", "kb"))
    SnapshotOps.commitAppend(spark, t,
      grid.withColumn("ka", col("ka") + 1000L)
        .repartitionByRange(4, col("kb")), statsCols = Seq("ka", "kb"))
    val all = SnapshotOps.snapshotFiles(t, 2)
    // a ka-range inside era 1 keeps era-1 tightly and era-2 not at all
    val kaKept = SnapshotOps.rangeFiles(t, 2, "ka", 1, 25)
    assert(kaKept.nonEmpty && kaKept.size < all.size / 2,
      s"ka prune kept ${kaKept.size}/${all.size}")
    assert(SnapshotOps.readSnapshotRange(spark, t, 2, "ka", 1, 25)
      .count() == 25 * 3)
    // a kb-point range prunes era 2 tightly; era-1 files span all kb
    // so they stay (bounds are per FILE, not per layout)
    val kbKept = SnapshotOps.rangeFiles(t, 2, "kb", 100, 100)
    assert(kbKept.size < all.size, s"kb prune kept ${kbKept.size}")
    assert(SnapshotOps.readSnapshotRange(spark, t, 2, "kb", 100, 100)
      .count() == 200)
    // era 3: an append with NO kb stats — absence must never skip
    SnapshotOps.commitAppend(spark, t,
      Seq((5000L, 100L)).toDF("ka", "kb"), statsCols = Seq("ka"))
    assert(SnapshotOps.readSnapshotRange(spark, t, 3, "kb", 100, 100)
      .count() == 201)
  }

  test("txn-marked commitMerge is idempotent: a replayed upsert batch " +
      "skips before reading a byte, a newer batch commits") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), statsCols = Seq("id"))
    val src = Seq((2L, 99L), (3L, 30L)).toDF("id", "v")
    val c1 = SnapshotOps.commitMerge(spark, t, src, Seq("id"),
      txn = Some(("cdc", 0L)))
    assert(c1.version == 2 && !c1.skipped)
    val replay = SnapshotOps.commitMerge(spark, t, src, Seq("id"),
      txn = Some(("cdc", 0L)))
    assert(replay.skipped && replay.version == 2)
    assert(SnapshotOps.currentVersion(t) == 2)
    val next = SnapshotOps.commitMerge(spark, t,
      Seq((1L, 11L)).toDF("id", "v"), Seq("id"), txn = Some(("cdc", 1L)))
    assert(next.version == 3 && !next.skipped)
    val rows = SnapshotOps.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == Seq((1L, 11L), (2L, 99L), (3L, 30L)))
  }

  test("vacuum retains DV files referenced by retained versions") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20L).map(i => (i, i)).toDF("id", "v"), statsCols = Seq("id"))
    SnapshotOps.commitDelete(spark, t, col("id") <= 5L)
    val dvPaths = SnapshotOps.deleteEntries(t, 2).map(_.path)
    assert(dvPaths.nonEmpty)
    SnapshotOps.commitAppend(spark, t,
      (21L to 25L).map(i => (i, i)).toDF("id", "v"), statsCols = Seq("id"))
    // drop v1, keep v2..v3 (both reference the DV): files must survive
    SnapshotOps.vacuum(t, keepVersions = 2, graceMs = 0)
    assert(dvPaths.forall(p => new java.io.File(p).exists()))
    assert(SnapshotOps.readLatest(spark, t).count() == 20)
  }

  test("readAppendsSince refuses spans whose new DVs name BASE files: " +
      "a MOR delete or MOR update of pre-span rows is a rewrite in " +
      "append clothing") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))
    SnapshotOps.commitAppend(spark, t,
      (21L to 30L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))
    // MOR delete of a BASE row (id=5 lives in v1's files): every base
    // data unit still carries forward, so the old gate passed — but an
    // incremental consumer of (1, 3] would never learn row 5 vanished
    SnapshotOps.commitDelete(spark, t, col("id") === 5L)
    val e1 = intercept[IllegalArgumentException] {
      SnapshotOps.readAppendsSince(spark, t, 1, 3)
    }
    assert(e1.getMessage.contains("base data files"))
    // from v0 the whole snapshot is the span — no base files, allowed
    assert(SnapshotOps.readAppendsSince(spark, t, 0, 3).count() == 29)

    // MOR UPDATE of base rows (the advice's double-count case): the
    // updated copies surface as appends while the superseded originals
    // are invisibly deletion-vectored — must refuse, not double-count
    val t2 = freshTable()
    SnapshotOps.commitAppend(spark, t2,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"),
      statsCols = Seq("id"))
    SnapshotOps.commitUpdateMoR(spark, t2, col("id") <= 3L,
      _.withColumn("v", col("v") + lit(100.0)))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotOps.readAppendsSince(spark, t2, 1, 2)
    }
    assert(e2.getMessage.contains("base data files"))
    // a rewrite-class commit CONSOLIDATES the DV away — the dropped-DV
    // check refuses before any file-set reasoning
    SnapshotOps.commitCompact(spark, t2, 1)
    val e3 = intercept[IllegalArgumentException] {
      SnapshotOps.readAppendsSince(spark, t2, 2, 3)
    }
    assert(e3.getMessage.contains("consolidated") ||
      e3.getMessage.contains("rewritten"))
  }

  test("derived per-unit sequence numbers: monotone across versions, " +
      "and every DV's sequence >= the sequence of each data unit it " +
      "names (the invariant an explicit _seq field would codify)") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 30L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))
    SnapshotOps.commitAppend(spark, t,
      (31L to 60L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))
    SnapshotOps.commitDelete(spark, t, col("id").isin(5L, 40L))
    SnapshotOps.commitAppend(spark, t,
      (61L to 70L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))
    val cur = SnapshotOps.currentVersion(t)
    assert(cur == 4)
    // (1) monotonicity: a line's sequence is identical in every
    // version that carries it
    val seqs = (1 to cur).map(v => SnapshotOps.unitSequence(t, v))
    seqs.sliding(2).foreach { case Seq(a, b) =>
      a.keySet.intersect(b.keySet).foreach(l => assert(a(l) == b(l)))
    case _ => }
    // the four commits created units with sequences 1, 2, 3, 4
    assert(seqs.last.values.toSet == Set(1, 2, 3, 4))
    // (2) delete-after-data: the v3 DV names files from v1 AND v2
    // units, both with lower sequence
    val latest = seqs.last
    val dvSeq = latest.collect { case (l, s) if l.startsWith("!") => s }
    assert(dvSeq.nonEmpty && dvSeq.forall(_ == 3))
    val dvFiles = spark.read.parquet(
      SnapshotOps.deleteEntries(t, cur).map(_.path): _*)
      .select(col("_file")).distinct().collect()
      .map(_.getString(0)).toSet
    // every data unit whose files the DV names was committed earlier:
    // expand each group line ("@<groupFile>\t…") to its member paths
    def unitPaths(line: String): Seq[String] =
      if (line.startsWith("@"))
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(line.drop(1).split("\t")(0))))
          .split("\n").filter(_.nonEmpty).map(_.split("\t")(0)).toSeq
      else Seq(line.split("\t")(0))
    val named = latest.filter { case (l, _) => !l.startsWith("!") &&
      unitPaths(l).exists(dvFiles.contains) }
    assert(named.nonEmpty, "the DV names at least one data unit")
    named.values.foreach(s => assert(s < 3,
      s"DV (seq 3) must postdate the data it names (unit seq $s)"))
  }

  test("pointFiles types its probe on a schema-evolved table whose " +
      "probed column exists only in later units") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), statsCols = Seq("id"))
    // evolved append introduces `extra`, with a bloom on it
    SnapshotOps.commitAppend(spark, t,
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "tag", "extra"),
      statsCols = Seq("id"), bloomCols = Seq("extra"))
    // the FIRST unit's files lack `extra`; the fallback mergeSchema
    // sampling must resolve it instead of throwing
    val kept = SnapshotOps.pointFiles(spark, t, 2, "extra", 30L)
    assert(kept.nonEmpty)
    val rows = spark.read.option("mergeSchema", "true").parquet(kept: _*)
    assert(rows.where(col("extra") === 30L).count() == 1)
  }

  test("commitRestore rewinds content as a new metadata-only commit: " +
      "history preserved, zero files written, DV lines carried back " +
      "verbatim") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))                                   // v1
    SnapshotOps.commitDelete(spark, t, col("id") <= 5L)        // v2: MOR
    SnapshotOps.commitAppend(spark, t,
      (21L to 25L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))                                   // v3
    val dataFilesBefore = java.nio.file.Files.walk(
      java.nio.file.Paths.get(t)).filter(_.toString.endsWith(".parquet"))
      .count()
    val c = SnapshotOps.commitRestore(t, 2)                    // v4 = v2
    assert(c.version == 4 && c.written == 0)
    // content == v2's: the MOR DV line carried back verbatim
    assert(SnapshotOps.readLatest(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq == (6L to 20L))
    // pure metadata: not one new data or DV file
    val dataFilesAfter = java.nio.file.Files.walk(
      java.nio.file.Paths.get(t)).filter(_.toString.endsWith(".parquet"))
      .count()
    assert(dataFilesAfter == dataFilesBefore)
    // history preserved: the rolled-back v3 still reads exactly
    assert(SnapshotOps.readSnapshot(spark, t, 3)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((6L to 20L) ++ (21L to 25L)))
    // restore is itself a commit: a later append builds on it
    SnapshotOps.commitAppend(spark, t,
      Seq((30L, "z")).toDF("id", "tag"), statsCols = Seq("id"))
    assert(SnapshotOps.readLatest(spark, t).count() == 16)
    // bounds validated against the chain
    assertThrows[IllegalArgumentException](SnapshotOps.commitRestore(t, 99))
  }

  test("commitDeleteByKey: DELETE by key with zero data files scanned; " +
      "a later re-insert of the same key survives (delete-after-data)") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))                                   // v1
    SnapshotOps.commitAppend(spark, t,
      (21L to 30L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))                                   // v2
    val c = SnapshotOps.commitDeleteByKey(spark, t,
      Seq(5L, 25L, 99L).toDF("id"))                            // v3
    assert(c.version == 3 && c.written == 0)
    // zero data files touched: v3's data-file list IS v2's
    assert(SnapshotOps.snapshotFiles(t, 3) == SnapshotOps.snapshotFiles(t, 2))
    assert(SnapshotOps.readLatest(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((1L to 30L).toSet -- Set(5L, 25L)).toSeq.sorted)
    // time travel predates the delete
    assert(SnapshotOps.readSnapshot(spark, t, 2).count() == 30)
    // re-insert of a deleted key at a HIGHER sequence survives
    SnapshotOps.commitAppend(spark, t,
      Seq((5L, "reborn")).toDF("id", "tag"), statsCols = Seq("id")) // v4
    val reborn = SnapshotOps.readLatest(spark, t)
      .where(col("id") === 5L).collect()
    assert(reborn.map(_.getString(1)).toSeq == Seq("reborn"))
    assert(SnapshotOps.readLatest(spark, t).count() == 29)
    // debt is visible to maintenance; metadata count is honestly unknown
    assert(SnapshotOps.eqDeleteStats(t, 4) == (1, 3L))
    assert(SnapshotOps.snapshotRowCount(t, 4).isEmpty)
    // an empty key list burns no version
    assert(SnapshotOps.commitDeleteByKey(spark, t,
      Seq.empty[Long].toDF("id")).skipped)
    // pruned reads apply the delete too (seq-aware grouped scan)
    assert(SnapshotOps.readSnapshotRange(spark, t, 4, "id",
      BigDecimal(20), BigDecimal(30)).collect()
      .map(_.getLong(0)).sorted.toSeq == ((20L to 30L).toSet - 25L)
      .toSeq.sorted)
  }

  test("equality deletes compose with positional DVs; full rewrites " +
      "(compact) pay both debts and drop the `=` lines") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"))                                   // v1
    SnapshotOps.commitDeleteByKey(spark, t,
      Seq(1L, 2L, 3L).toDF("id"))                              // v2: eq
    SnapshotOps.commitDelete(spark, t, col("id") === 10L)      // v3: DV
    assert(SnapshotOps.readLatest(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((4L to 20L).toSet - 10L).toSeq.sorted)
    val c = SnapshotOps.commitCompact(spark, t, 2)             // v4
    assert(SnapshotOps.eqDeleteStats(t, c.version) == (0, 0L))
    assert(SnapshotOps.deleteStats(t, c.version) == (0, 0L))
    assert(SnapshotOps.readLatest(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((4L to 20L).toSet - 10L).toSeq.sorted)
    // debt paid ⇒ the metadata count works again
    assert(SnapshotOps.snapshotRowCount(t, c.version).contains(16L))
    // and a deleted key re-inserted after compaction stays visible
    SnapshotOps.commitAppend(spark, t, Seq((1L, "z")).toDF("id", "tag"))
    assert(SnapshotOps.readLatest(spark, t)
      .where(col("id") === 1L).count() == 1)
  }

  test("commitUpdateMoR and commitRewrite never resurrect " +
      "equality-deleted rows; partial rewrites carry the `=` line for " +
      "the files they did not touch") {
    import spark.implicits._
    val t = freshTable()
    // two appends in separate units so a rewrite can be partial
    SnapshotOps.commitAppend(spark, t,
      (1L to 10L).map(i => (i, i * 10L)).toDF("id", "v"),
      statsCols = Seq("id"))                                   // v1
    SnapshotOps.commitAppend(spark, t,
      (11L to 20L).map(i => (i, i * 10L)).toDF("id", "v"),
      statsCols = Seq("id"))                                   // v2
    SnapshotOps.commitDeleteByKey(spark, t, Seq(1L, 2L).toDF("id")) // v3
    // MOR update touching the deleted ids' range: only visible rows
    // (3..5) update; 1 and 2 must NOT come back as new data
    SnapshotOps.commitUpdateMoR(spark, t, col("id") <= 5L,
      _.withColumn("v", col("v") + 1L))                        // v4
    val afterMor = SnapshotOps.readLatest(spark, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(!afterMor.exists(r => r._1 == 1L || r._1 == 2L))
    assert(afterMor.filter(_._1 <= 5L) ==
      Seq((3L, 31L), (4L, 41L), (5L, 51L)))
    // partial COW rewrite of only the SECOND unit's range: the `=`
    // line must carry forward (it still guards the untouched unit)
    SnapshotOps.commitRewrite(spark, t, col("id") >= 15L,
      _.withColumn("v", col("v") + 1000L))                     // v5
    val afterCow = SnapshotOps.readLatest(spark, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(!afterCow.exists(r => r._1 == 1L || r._1 == 2L))
    assert(afterCow.filter(_._1 >= 15L).forall(_._2 > 1000L))
    assert(SnapshotOps.eqDeleteStats(t,
      SnapshotOps.currentVersion(t))._1 == 1)
    // full rewrite through the touched files bakes the delete: even
    // a rewrite matching EVERYTHING leaves 1 and 2 gone
    SnapshotOps.commitRewrite(spark, t, col("v") >= 0L,
      df => df)                                                // v6
    assert(!SnapshotOps.readLatest(spark, t)
      .collect().map(_.getLong(0)).toSet.exists(Set(1L, 2L)))
  }

  test("readAppendsSince refuses spans that change the equality-delete " +
      "set, in both directions") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "tag"))     // v1
    SnapshotOps.commitAppend(spark, t,
      (11L to 15L).map(i => (i, s"r$i")).toDF("id", "tag"))    // v2
    SnapshotOps.commitDeleteByKey(spark, t, Seq(2L).toDF("id")) // v3
    // clean append span still works
    assert(SnapshotOps.readAppendsSince(spark, t, 1, 2)
      .collect().map(_.getLong(0)).sorted.toSeq == (11L to 15L))
    // a new `=` line inside the span retracts pre-span rows: refuse
    val ex = intercept[IllegalArgumentException](
      SnapshotOps.readAppendsSince(spark, t, 2, 3))
    assert(ex.getMessage.contains("equality-delete"))
    // appends AFTER the delete span cleanly (new units outrank it)
    SnapshotOps.commitAppend(spark, t,
      Seq((2L, "reborn")).toDF("id", "tag"))                   // v4
    assert(SnapshotOps.readAppendsSince(spark, t, 3, 4)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "reborn")))
    // a restore DROPPING the `=` line resurrects rows: refuse too
    SnapshotOps.commitRestore(t, 2)                            // v5
    val ex2 = intercept[IllegalArgumentException](
      SnapshotOps.readAppendsSince(spark, t, 3, 5))
    assert(ex2.getMessage.contains("equality-delete") ||
      ex2.getMessage.contains("rewritten"))
  }

  test("snapshotDiff across an equality delete emits exactly the " +
      "deleted rows; across a restore dropping it, the resurrections") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "tag"),
      statsCols = Seq("id"), bloomCols = Seq("id"))            // v1
    SnapshotOps.commitDeleteByKey(spark, t, Seq(2L, 3L).toDF("id")) // v2
    val d12 = SnapshotOps.snapshotDiff(spark, t, 1, 2)
      .collect().map(r => (r.getAs[String]("change_type"), r.getLong(0)))
      .sorted.toSeq
    assert(d12 == Seq(("delete", 2L), ("delete", 3L)))
    SnapshotOps.commitRestore(t, 1)                            // v3 = v1
    val d23 = SnapshotOps.snapshotDiff(spark, t, 2, 3)
      .collect().map(r => (r.getAs[String]("change_type"), r.getLong(0)))
      .sorted.toSeq
    assert(d23 == Seq(("insert", 2L), ("insert", 3L)))
    // full-span diff cancels: v3 == v1
    assert(SnapshotOps.snapshotDiff(spark, t, 1, 3)
      .where(col("change_type") =!= lit("")).count() == 0)
  }

  test("the read-time delete-after-data assertion: an unstamped data " +
      "unit read under equality deletes fails fast, and " +
      "commitDeleteByKey refuses a pre-stamping base") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 5L).map(i => (i, s"r$i")).toDF("id", "tag"))      // v1
    SnapshotOps.commitDeleteByKey(spark, t, Seq(1L).toDF("id")) // v2
    // simulate a pre-stamping manifest: strip _seq from v2's DATA lines
    val m = java.nio.file.Paths.get(t, "manifests", "v2.manifest")
    val stripped = new String(java.nio.file.Files.readAllBytes(m))
      .split("\n").map(l =>
        if (l.startsWith("=") || l.startsWith("#")) l
        else l.replaceAll("\t_seq=\\d+\\.\\.\\d+", "")).mkString("\n")
    java.nio.file.Files.write(m, stripped.getBytes)
    val ex = intercept[IllegalStateException](
      SnapshotOps.readLatest(spark, t).collect())
    assert(ex.getMessage.contains("_seq"))
    // and the commit-side guard: deleting by key over an unstamped
    // base refuses (a publish-time stamp would tie with the delete)
    val t2 = freshTable()
    SnapshotOps.commitAppend(spark, t2,
      Seq((1L, "a")).toDF("id", "tag"))
    val m2 = java.nio.file.Paths.get(t2, "manifests", "v1.manifest")
    java.nio.file.Files.write(m2,
      new String(java.nio.file.Files.readAllBytes(m2))
        .replaceAll("\t_seq=\\d+\\.\\.\\d+", "").getBytes)
    val ex2 = intercept[IllegalArgumentException](
      SnapshotOps.commitDeleteByKey(spark, t2, Seq(1L).toDF("id")))
    assert(ex2.getMessage.contains("_seq"))
  }

  test("vacuum retains equality-delete files referenced by retained " +
      "versions; stamped sequences answer after the history is gone") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "tag"))     // v1
    SnapshotOps.commitDeleteByKey(spark, t, Seq(4L).toDF("id")) // v2
    SnapshotOps.commitAppend(spark, t,
      Seq((11L, "k")).toDF("id", "tag"))                       // v3
    val (dropped, _) = SnapshotOps.vacuum(t, keepVersions = 2,
      graceMs = 0)
    assert(dropped == 1)
    // the eq-delete file survived: the delete still applies
    assert(SnapshotOps.readLatest(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((1L to 11L).toSet - 4L).toSeq.sorted)
    // unitSequence answers from stamps alone — the v1 manifest the
    // derivation walk would read is deleted
    val seqs = SnapshotOps.unitSequence(t, 3)
    assert(seqs.values.toSet == Set(1, 2, 3))
    // TIMESTAMP AS OF before the retention horizon fails loudly (the
    // v1 answer existed and was expired — a silent empty frame would
    // be a wrong answer); as-of the surviving span still resolves
    val v2ts = SnapshotOps.snapshotTimestamp(t, 2).get
    assert(SnapshotOps.readSnapshotAsOf(spark, t, v2ts).count() == 9)
    val ex = intercept[IllegalArgumentException](
      SnapshotOps.readSnapshotAsOf(spark, t, v2ts - 10000).count())
    assert(ex.getMessage.contains("retention horizon"))
  }

  test("publish-time stamping of a legacy carry-forward derives the " +
      "TRUE creation version, not the publish version; and " +
      "unitSequence refuses a derivation truncated by retention") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 5L).map(i => (i, s"a$i")).toDF("id", "tag"))      // v1
    SnapshotOps.commitAppend(spark, t,
      (6L to 9L).map(i => (i, s"b$i")).toDF("id", "tag"))      // v2
    // simulate a pre-stamping table: strip _seq from both manifests
    def strip(v: Int): Unit = {
      val m = java.nio.file.Paths.get(t, "manifests", s"v$v.manifest")
      java.nio.file.Files.write(m,
        new String(java.nio.file.Files.readAllBytes(m))
          .replaceAll("\t_seq=\\d+\\.\\.\\d+", "").getBytes)
    }
    strip(1); strip(2)
    // the units v1/v2 created, identified by path (stable across the
    // stamping the next publish applies)
    def unitPaths(v: Int): Set[String] =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "manifests", s"v$v.manifest")))
        .split("\n").filterNot(_.startsWith("#"))
        .map(_.split("\t")(0).stripPrefix("@")).toSet
    val v1Paths = unitPaths(1)
    SnapshotOps.commitAppend(spark, t,
      Seq((10L, "c")).toDF("id", "tag"))                       // v3
    // v3's publish stamped every carried legacy line with its DERIVED
    // creation version (the lowest-version walk), so stored stamps
    // match history: v1's units say 1, v2's say 2, the new unit 3 —
    // NOT a blanket 3 (the pre-fix behavior the advisor flagged)
    val seqs = SnapshotOps.unitSequence(t, 3).map { case (l, s) =>
      l.split("\t")(0).stripPrefix("@") -> s }
    assert(seqs.values.toSet == Set(1, 2, 3))
    v1Paths.foreach(p => assert(seqs(p) == 1,
      s"v1 unit $p stamped ${seqs(p)}"))
    assert(seqs.count(_._2 == 3) == seqs.size - unitPaths(2).size,
      "exactly the units new to v3 carry stamp 3")
    // guard: an unstamped line whose derivation walk is truncated by
    // retention must fail loudly, not return the post-expire horizon
    val t2 = freshTable()
    SnapshotOps.commitAppend(spark, t2, Seq((1L, "x")).toDF("id", "tag"))
    SnapshotOps.commitAppend(spark, t2, Seq((2L, "y")).toDF("id", "tag"))
    SnapshotOps.commitAppend(spark, t2, Seq((3L, "z")).toDF("id", "tag"))
    val m3 = java.nio.file.Paths.get(t2, "manifests", "v3.manifest")
    java.nio.file.Files.write(m3,
      new String(java.nio.file.Files.readAllBytes(m3))
        .replaceAll("\t_seq=\\d+\\.\\.\\d+", "").getBytes)
    SnapshotOps.vacuum(t2, keepVersions = 2, graceMs = 0) // drops v1
    val ex = intercept[IllegalArgumentException](
      SnapshotOps.unitSequence(t2, 3))
    assert(ex.getMessage.contains("expired"))
  }

  test("RENAME COLUMN is a zero-rewrite metadata commit: new shape " +
      "reads from the same files, time travel reproduces the " +
      "pre-rename shape, pruned reads translate the name") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 100L).map(i => (i, i * 10.0, s"s$i")).toDF("id", "bal", "seg"),
      statsCols = Seq("id", "bal"))                          // v1
    val files1 = SnapshotOps.snapshotFiles(t, 1).toSet
    val c = SnapshotOps.commitRenameColumn(spark, t, "bal", "balance") // v2
    assert(c.version == 2 && c.written == 0, s"$c — must write no file")
    assert(SnapshotOps.snapshotFiles(t, 2).toSet == files1,
      "rename must reference exactly the same data files")
    val now = SnapshotOps.readLatest(spark, t)
    assert(now.columns.toSeq == Seq("id", "bal".replace("bal", "balance"),
      "seg").map(identity))
    assert(now.where(col("balance") === 500.0).count() == 1)
    // old name is gone from the logical shape
    assert(!now.columns.contains("bal"))
    // time travel: v1 still answers under the OLD name with its data
    val v1 = SnapshotOps.readSnapshot(spark, t, 1)
    assert(v1.columns.toSeq == Seq("id", "bal", "seg"))
    assert(v1.agg(sum(col("bal"))).collect().head.getDouble(0) == 50500.0)
    // pruned range read translates logical -> frozen physical stats
    assert(SnapshotOps.readSnapshotRange(spark, t, 2, "balance",
      BigDecimal(10), BigDecimal(100)).count() == 10)
    // appends AFTER the rename arrive under the new logical name and
    // land under the frozen physical name — one coherent scan
    SnapshotOps.commitAppend(spark, t,
      Seq((101L, 1010.0, "s101")).toDF("id", "balance", "seg")) // v3
    assert(SnapshotOps.readLatest(spark, t).count() == 101)
    assert(SnapshotOps.readLatest(spark, t)
      .agg(sum(col("balance"))).collect().head.getDouble(0) == 51510.0)
    // rename target collisions and unknown sources fail loudly
    intercept[IllegalArgumentException](
      SnapshotOps.commitRenameColumn(spark, t, "nope", "x"))
    intercept[IllegalArgumentException](
      SnapshotOps.commitRenameColumn(spark, t, "balance", "seg"))
  }

  test("DROP COLUMN tombstones the id: zero rewrite, column gone from " +
      "reads, time travel shows it with data, and a later re-add " +
      "does NOT resurrect the old values") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 10L).map(i => (i, s"x$i", i * 1.0)).toDF("id", "x", "v")) // v1
    val c = SnapshotOps.commitDropColumn(spark, t, "x")        // v2
    assert(c.written == 0)
    val now = SnapshotOps.readLatest(spark, t)
    assert(now.columns.toSeq == Seq("id", "v"))
    // time travel: the dropped column is still there, WITH its data
    val v1 = SnapshotOps.readSnapshot(spark, t, 1)
    assert(v1.columns.toSeq == Seq("id", "x", "v"))
    assert(v1.where(col("x") === "x7").count() == 1)
    // re-add the same logical name via an evolved append: fresh
    // physical name, so rows from v1's files must read NULL, not "x_i"
    SnapshotOps.commitAppend(spark, t,
      Seq((11L, 99.0, "fresh")).toDF("id", "v", "x"))          // v3
    val evolved = SnapshotOps.readLatest(spark, t)
    assert(evolved.columns.sorted.toSeq == Seq("id", "v", "x"))
    val xs = evolved.select(col("id"), col("x")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(xs(11L).contains("fresh"))
    assert((1L to 10L).forall(xs(_).isEmpty),
      "dropped data must not resurrect under the re-added name")
    // dropping the last live column refuses
    val t2 = freshTable()
    SnapshotOps.commitAppend(spark, t2, Seq(1L).toDF("only"))
    intercept[IllegalArgumentException](
      SnapshotOps.commitDropColumn(spark, t2, "only"))
  }

  test("concurrent renames of two different columns both survive: a " +
      "retried column-evolution commit re-derives its mapping") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "a", 2.0)).toDF("id", "s", "v"))                 // v1
    val gate = new java.util.concurrent.CountDownLatch(2)
    // both read v1 and infer its identity mapping (a Spark job each)
    // before either publishes; the loser must rebase onto the winner
    def rename(from: String, to: String) = Future {
      gate.countDown(); gate.await()
      SnapshotOps.commitRenameColumn(spark, t, from, to)
    }
    val (a, b) = (rename("s", "tag"), rename("v", "val"))
    val versions = Set(Await.result(a, 2.minutes).version,
      Await.result(b, 2.minutes).version)
    assert(versions == Set(2, 3))
    val now = SnapshotOps.readLatest(spark, t)
    assert(now.columns.toSeq == Seq("id", "tag", "val"))
    assert(now.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2))).toSeq == Seq((1L, "a", 2.0)))
  }

  test("a rename racing a drop of the same column never resurrects it: " +
      "exactly one wins, the other fails its check on the new head") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.{Failure, Success, Try}
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "a", 2.0)).toDF("id", "x", "v"))                 // v1
    val gate = new java.util.concurrent.CountDownLatch(2)
    def racer(commit: => SnapshotOps.Committed) = Future {
      gate.countDown(); gate.await()
      Try(commit)
    }
    val r = racer(SnapshotOps.commitRenameColumn(spark, t, "x", "y"))
    val d = racer(SnapshotOps.commitDropColumn(spark, t, "x"))
    val (renamed, dropped) = (Await.result(r, 2.minutes),
      Await.result(d, 2.minutes))
    val cols = SnapshotOps.readLatest(spark, t).columns.toSeq
    (renamed, dropped) match {
      case (Failure(_: IllegalArgumentException), Success(_)) =>
        assert(cols == Seq("id", "v"))
      case (Success(_), Failure(_: IllegalArgumentException)) =>
        assert(cols == Seq("id", "y", "v"))
      case other =>
        fail(s"exactly one of rename/drop must commit: $other, now $cols")
    }
    assert(SnapshotOps.currentVersion(t) == 2)
  }

  test("post-evolution DML speaks the logical schema: COW update, MoR " +
      "delete, eq-delete and merge all translate through the mapping; " +
      "the rename commit itself diffs as zero changes") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "bal"))   // v1
    SnapshotOps.commitRenameColumn(spark, t, "bal", "balance") // v2
    // a metadata-only evolution produces ZERO row-level changes
    assert(SnapshotOps.snapshotDiff(spark, t, 1, 2)
      .where(col("change_type") =!= lit("")).count() == 0)
    // COW update under the NEW name
    SnapshotOps.commitRewrite(spark, t, col("balance") > 15.0,
      _.withColumn("balance", col("balance") + 100.0))         // v3
    assert(SnapshotOps.readLatest(spark, t)
      .where(col("balance") > 100.0).count() == 5)
    // MoR delete under the new name
    SnapshotOps.commitDelete(spark, t, col("balance") === 1.0)  // v4
    assert(SnapshotOps.readLatest(spark, t).count() == 19)
    // eq-delete with LOGICAL key column name (id unchanged here, but
    // routed through the same translation)
    SnapshotOps.commitDeleteByKey(spark, t, Seq(2L).toDF("id")) // v5
    assert(SnapshotOps.readLatest(spark, t).count() == 18)
    // merge (upsert) under the new name: replace id 3, insert id 21
    SnapshotOps.commitMerge(spark, t,
      Seq((3L, -3.0), (21L, -21.0)).toDF("id", "balance"), Seq("id")) // v6
    val fin = SnapshotOps.readLatest(spark, t)
    assert(fin.count() == 19)
    assert(fin.where(col("id") === 3L).collect()
      .head.getDouble(1) == -3.0)
    assert(fin.where(col("id") === 21L).count() == 1)
    // the old name is unaddressable in the projected result (a DML
    // cond CAN still reach it through Spark's missing-reference
    // resolution — Filter-over-Project analyzer behavior, identical
    // to df.where on any projected frame; it resolves to the same
    // frozen physical column, never to stale data)
    intercept[org.apache.spark.sql.AnalysisException](
      SnapshotOps.readLatest(spark, t).select("bal").collect())
  }

  test("evolution debt paid by maintenance: compaction of a mapped " +
      "table keeps evolved columns, drops tombstoned ones; merge " +
      "anchors pre-evolution files; mint collisions bump the suffix") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "bal"))     // v1
    SnapshotOps.commitRenameColumn(spark, t, "bal", "balance")  // v2
    // evolved append minting a new column under the mapping
    SnapshotOps.commitAppend(spark, t,
      Seq((11L, 11.0, "n11"), (12L, 12.0, "n12"))
        .toDF("id", "balance", "note"))                          // v3
    // merge whose keys touch ONLY pre-evolution (v1) files: the
    // rewrite read must anchor to the full physical schema, not fail
    // the logical projection on the missing evolved column
    SnapshotOps.commitMerge(spark, t,
      Seq((5L, 555.0, null.asInstanceOf[String]),
        (20L, 20.0, "n20")).toDF("id", "balance", "note"),
      Seq("id"))                                                 // v4
    val afterMerge = SnapshotOps.readLatest(spark, t)
    assert(afterMerge.columns.toSeq == Seq("id", "balance", "note"))
    val byId = afterMerge.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), Option(r.getString(2)))))
      .toMap
    assert(byId(5L) == ((555.0, None)))
    assert(byId(20L) == ((20.0, Some("n20"))))
    assert(byId(11L) == ((11.0, Some("n11"))))
    assert(byId(1L)._2.isEmpty, "pre-evolution rows carry null note")
    // compaction: must SURFACE the evolved column across file
    // generations (a schema-from-one-footer read would silently drop
    // it and corrupt the table for every later read)
    SnapshotOps.commitCompact(spark, t, 2)                       // v5
    val compacted = SnapshotOps.readLatest(spark, t)
    assert(compacted.columns.toSeq == Seq("id", "balance", "note"))
    assert(compacted.where(col("note").isNotNull).count() == 3)
    assert(compacted.count() == 13) // 10 base + 2 evolved + 1 merge insert
    // drop + compact: the tombstoned column's data leaves the NEW
    // files (evolution debt paid), while time travel still reads it
    // from the prior version's untouched files
    SnapshotOps.commitDropColumn(spark, t, "note")               // v6
    SnapshotOps.commitCompact(spark, t, 1)                       // v7
    assert(SnapshotOps.readLatest(spark, t).columns.toSeq ==
      Seq("id", "balance"))
    val v7files = SnapshotOps.snapshotFiles(t, 7)
    val physCols = spark.read.option("mergeSchema", "true")
      .parquet(v7files: _*).columns.toSet
    assert(!physCols.exists(_.startsWith("note")),
      s"tombstoned data must not be rewritten into new files: $physCols")
    assert(SnapshotOps.readSnapshot(spark, t, 5)
      .where(col("note").isNotNull).count() == 3)
    // mint collision: a user column literally named like the suffixed
    // mint — the fresh physical name must bump past it
    val t2 = freshTable()
    SnapshotOps.commitAppend(spark, t2,
      Seq((1L, "old", "user")).toDF("id", "x", "x_4"))          // v1
    SnapshotOps.commitDropColumn(spark, t2, "x")                 // v2
    SnapshotOps.commitAppend(spark, t2,
      Seq((2L, "fresh", "user2")).toDF("id", "x_4", "x"))        // v3
    val got = SnapshotOps.readLatest(spark, t2).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(got.toSeq == Seq((1L, "user", None),
      (2L, "fresh", Some("user2"))),
      s"x_4 must keep user data, re-added x must not bleed: ${got.toSeq}")
  }

  test("eq-delete sequence semantics through multiple generations: " +
      "each delete applies only below its own seq") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "g1")).toDF("id", "gen"))                       // v1
    SnapshotOps.commitDeleteByKey(spark, t, Seq(1L).toDF("id")) // v2
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "g2")).toDF("id", "gen"))                       // v3
    SnapshotOps.commitDeleteByKey(spark, t, Seq(1L).toDF("id")) // v4
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "g3")).toDF("id", "gen"))                       // v5
    // only the THIRD generation survives: v2 killed g1, v4 killed g2
    assert(SnapshotOps.readLatest(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "g3")))
    // history: v3 shows exactly g2 (v2's delete applied, v4's not yet)
    assert(SnapshotOps.readSnapshot(spark, t, 3)
      .collect().map(_.getString(1)).toSeq == Seq("g2"))
  }

  test("stacked eq-delete commits flatten to one anti-join per key " +
      "signature — plan depth no longer grows with delete count (r15)") {
    import spark.implicits._
    def antiJoins(df: org.apache.spark.sql.DataFrame): Int =
      "LeftAnti".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (0L until 100L).map(i => (i, s"p$i")).toDF("id", "p"))
    // eight un-compacted same-signature delete commits
    (0 until 8).foreach { i =>
      SnapshotOps.commitDeleteByKey(spark, t, Seq(i.toLong).toDF("id"))
    }
    val df = SnapshotOps.readLatest(spark, t)
    assert(antiJoins(df) == 1,
      s"8 same-signature deletes must plan ONE anti-join:\n" +
        df.queryExecution.optimizedPlan)
    assert(df.count() == 92L)
    // a second signature adds exactly one more join, not one per commit
    SnapshotOps.commitDeleteByKey(spark, t, Seq("p8").toDF("p"))
    SnapshotOps.commitDeleteByKey(spark, t, Seq("p9").toDF("p"))
    val df2 = SnapshotOps.readLatest(spark, t)
    assert(antiJoins(df2) == 2,
      s"two signatures must plan TWO anti-joins:\n" +
        df2.queryExecution.optimizedPlan)
    assert(df2.count() == 90L)
    // re-insert still survives (suffix grouping unchanged): its unit
    // is NEWER than every delete, so it joins nothing
    SnapshotOps.commitAppend(spark, t, Seq((5L, "back")).toDF("id", "p"))
    assert(SnapshotOps.readLatest(spark, t).where(col("id") === 5L)
      .collect().map(_.getString(1)).toSeq == Seq("back"))
  }

  test("eq-delete Bloom scoping: files whose blooms refute every " +
      "applicable key take the no-join path (r15)") {
    import spark.implicits._
    def antiJoins(df: org.apache.spark.sql.DataFrame): Int =
      "LeftAnti".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (0L until 100L).map(i => (i, s"a$i")).toDF("id", "p"),
      bloomCols = Seq("id"))
    SnapshotOps.commitAppend(spark, t,
      (1000L until 1100L).map(i => (i, s"b$i")).toDF("id", "p"),
      bloomCols = Seq("id"))
    // keys present in NO file: every file refutes → zero joins planned
    SnapshotOps.commitDeleteByKey(spark, t, Seq(50000L).toDF("id"))
    val miss = SnapshotOps.readLatest(spark, t)
    assert(antiJoins(miss) == 0,
      s"all-refuted delete must plan NO anti-join:\n" +
        miss.queryExecution.optimizedPlan)
    assert(miss.count() == 200L)
    // keys hitting only the first band: one join, content exact —
    // the refuted band reads clean alongside it
    SnapshotOps.commitDeleteByKey(spark, t,
      Seq(5L, 7L).toDF("id"))
    val hit = SnapshotOps.readLatest(spark, t)
    assert(antiJoins(hit) == 1)
    assert(hit.count() == 198L)
    assert(hit.where(col("id") === 5L).count() == 0L)
    assert(hit.where(col("id") === 1005L).count() == 1L)
  }

  test("hidden partitioning: a days/bucket/truncate spec clusters " +
      "appends and records per-file derived bounds that prune " +
      "structurally (r15)") {
    import spark.implicits._
    import SnapshotOps.parsePartField
    val t = freshTable()
    // empty-table seed: the CREATE … PARTITIONED BY shape — version 1
    // is pure metadata
    SnapshotOps.commitSetPartitionSpec(t, Seq(
      parsePartField("days(ts)"), parsePartField("truncate(100, v)")))
    assert(SnapshotOps.partitionSpec(t, 1).map(_.toString) ==
      Seq("days(ts)", "truncate(100,v)"))
    val rows = (0 until 600).map { i =>
      (java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i % 3}%02d ${i % 9}%02d:30:00"), i.toLong, i)
    }
    SnapshotOps.commitAppend(spark, t, rows.toDF("ts", "id", "v"))
    val v = SnapshotOps.currentVersion(t)
    val entries = SnapshotOps.snapshotEntries(t, v)
    assert(entries.size > 3, s"clustering should split: ${entries.size}")
    assert(entries.forall(e => e.bounds.contains("_p.days(ts)") &&
      e.bounds.contains("_p.truncate(100,v)")),
      s"derived bounds missing: ${entries.head.bounds.keySet}")
    // days probe: ONE day of the three must skip files
    val day = SnapshotOps.dayOfMicros(SnapshotOps.encodeBound(
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00").toInstant))
    val kept = SnapshotOps.predFilesCnf(t, v,
      Seq(("_p.days(ts)", Seq((Some(day), Some(day))))))
    assert(kept.nonEmpty && kept.size < entries.size,
      s"days probe kept ${kept.size} of ${entries.size}")
    // content exact: pruned read + residual == plain filter
    val res = SnapshotOps.readSnapshotFiles(spark, t, v, kept)
      .where(col("ts") >= lit("2024-01-02") &&
        col("ts") < lit("2024-01-03"))
      .count()
    val full = SnapshotOps.readSnapshot(spark, t, v)
      .where(col("ts") >= lit("2024-01-02") &&
        col("ts") < lit("2024-01-03"))
      .count()
    assert(res == full && full == 200L)
    // truncate probe: band [300, 400) = one derived value
    val keptT = SnapshotOps.predFilesCnf(t, v,
      Seq(("_p.truncate(100,v)",
        Seq((Some(BigDecimal(300)), Some(BigDecimal(300)))))))
    assert(keptT.size < entries.size)
    assert(SnapshotOps.readSnapshotFiles(spark, t, v, keptT)
      .where(col("v") >= 300 && col("v") < 400).count() == 100L)
  }

  test("hidden partitioning: bucket(n,k) serves point probes through " +
      "the probeHash-compatible derived bound (r15)") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitSetPartitionSpec(t,
      Seq(SnapshotOps.parsePartField("bucket(4, k)")))
    SnapshotOps.commitAppend(spark, t,
      (0 until 400).map(i => (f"k-$i%04d", i)).toDF("k", "v"))
    val v = SnapshotOps.currentVersion(t)
    val total = SnapshotOps.snapshotEntries(t, v).size
    val probe = "k-0042"
    val b = BigDecimal(SnapshotOps.bucketOf(probe,
      org.apache.spark.sql.types.StringType, 4))
    val kept = SnapshotOps.predFilesCnf(t, v,
      Seq(("_p.bucket(4,k)", Seq((Some(b), Some(b))))))
    assert(kept.size < total, s"bucket probe kept $kept of $total")
    // the probed key's row is IN the kept files (no false skip)
    assert(SnapshotOps.readSnapshotFiles(spark, t, v, kept)
      .where(col("k") === probe).count() == 1L)
  }

  test("hidden partitioning: spec evolution applies to NEW files " +
      "only — old files keep their derived keys, probes for a " +
      "transform treat files without it as unskippable (r15)") {
    import spark.implicits._
    import SnapshotOps.parsePartField
    val t = freshTable()
    SnapshotOps.commitSetPartitionSpec(t, Seq(parsePartField("truncate(100, v)")))
    SnapshotOps.commitAppend(spark, t,
      (0 until 300).map(i => (i, s"a$i")).toDF("v", "p"))        // old
    val oldFiles = SnapshotOps.snapshotFiles(t,
      SnapshotOps.currentVersion(t)).toSet
    SnapshotOps.commitSetPartitionSpec(t,
      Seq(parsePartField("bucket(4, v)")))                       // evolve
    SnapshotOps.commitAppend(spark, t,
      (300 until 600).map(i => (i, s"b$i")).toDF("v", "p"))      // new
    val v = SnapshotOps.currentVersion(t)
    val entries = SnapshotOps.snapshotEntries(t, v)
    val (olds, news) = entries.partition(e => oldFiles.contains(e.path))
    assert(olds.nonEmpty && news.nonEmpty)
    assert(olds.forall(e => e.bounds.contains("_p.truncate(100,v)") &&
      !e.bounds.contains("_p.bucket(4,v)")))
    assert(news.forall(e => e.bounds.contains("_p.bucket(4,v)") &&
      !e.bounds.contains("_p.truncate(100,v)")))
    // truncate probe: prunes WITHIN old files, keeps every new file
    val keptT = SnapshotOps.predFilesCnf(t, v, Seq(("_p.truncate(100,v)",
      Seq((Some(BigDecimal(0)), Some(BigDecimal(0)))))))
    assert(news.map(_.path).forall(keptT.contains),
      "files without the transform must never skip")
    assert(keptT.size < entries.size, "old files must still prune")
    // bucket probe: prunes within new files, keeps every old file
    val b = BigDecimal(SnapshotOps.bucketOf(42,
      org.apache.spark.sql.types.IntegerType, 4))
    val keptB = SnapshotOps.predFilesCnf(t, v, Seq(("_p.bucket(4,v)",
      Seq((Some(b), Some(b))))))
    assert(olds.map(_.path).forall(keptB.contains))
    assert(SnapshotOps.readSnapshotFiles(spark, t, v, keptB)
      .where(col("v") === 42).count() == 1L)
    // un-partition: appends stop recording derived bounds
    SnapshotOps.commitSetPartitionSpec(t, Seq.empty)
    SnapshotOps.commitAppend(spark, t,
      Seq((900, "z")).toDF("v", "p"))
    val lastV = SnapshotOps.currentVersion(t)
    assert(SnapshotOps.partitionSpec(t, lastV).isEmpty)
    val fresh = SnapshotOps.snapshotEntries(t, lastV)
      .filterNot(e => entries.map(_.path).contains(e.path))
    assert(fresh.nonEmpty &&
      fresh.forall(_.bounds.keySet.forall(!_.startsWith("_p."))))
  }

  test("hidden partitioning survives maintenance: COW rewrites and " +
      "compaction re-split under the spec and re-record derived " +
      "bounds (r15)") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitSetPartitionSpec(t,
      Seq(SnapshotOps.parsePartField("truncate(100, v)")))
    SnapshotOps.commitAppend(spark, t,
      (0 until 300).map(i => (i, s"p$i")).toDF("v", "p"))
    // COW update touches only the 100-band; its rewritten files must
    // carry derived bounds again
    SnapshotOps.commitRewrite(spark, t,
      col("v") >= 100 && col("v") < 200,
      df => df.withColumn("p", lit("upd")))
    val v2 = SnapshotOps.currentVersion(t)
    assert(SnapshotOps.snapshotEntries(t, v2).forall(
      _.bounds.contains("_p.truncate(100,v)")),
      "rewritten files must re-record derived bounds")
    // compaction keeps one file per partition tuple, bounds intact
    SnapshotOps.commitCompact(spark, t, nFiles = 1)
    val v3 = SnapshotOps.currentVersion(t)
    val entries = SnapshotOps.snapshotEntries(t, v3)
    assert(entries.size >= 3, s"compaction must keep the split: $entries")
    assert(entries.forall(e =>
      e.bounds.contains("_p.truncate(100,v)") &&
        e.bounds("_p.truncate(100,v)")._1 ==
        e.bounds("_p.truncate(100,v)")._2))
    val kept = SnapshotOps.predFilesCnf(t, v3, Seq(("_p.truncate(100,v)",
      Seq((Some(BigDecimal(100)), Some(BigDecimal(100)))))))
    assert(kept.size < entries.size)
    assert(SnapshotOps.readSnapshotFiles(spark, t, v3, kept)
      .where(col("v") >= 100 && col("v") < 200)
      .collect().forall(_.getString(1) == "upd"))
    assert(SnapshotOps.readSnapshot(spark, t, v3).count() == 300L)
  }

  // --- typed bounds (r14): string/date/timestamp stats columns ---

  test("encodeBound is order-preserving: string truncation is monotone, " +
      "temporal types map to exact integers") {
    import SnapshotOps.encodeBound
    // strings: every adjacent pair in Spark's order (unsigned UTF-8
    // byte comparison) must encode non-decreasing; pairs that differ
    // within the 12-byte prefix must encode STRICTLY increasing
    val sorted = Seq("", "A", "A-00000500", "A-00000501", "B",
      "N-00003000", "R-", "R-00000100", "Z", "a", "ab", "b",
      "é", "中文") // é < 中 in UTF-8 byte order
    sorted.sliding(2).foreach { case Seq(lo, hi) =>
      assert(encodeBound(lo) <= encodeBound(hi), s"'$lo' vs '$hi'")
    }
    assert(encodeBound("A-00000500") < encodeBound("A-00000501"))
    // beyond the truncation width encodings collide (non-strict) —
    // that is the safe direction: collisions admit, never skip
    assert(encodeBound("prefix-above-12b-AAA") ==
      encodeBound("prefix-above-12b-ZZZ"))
    // temporal: epoch micros / days, exact
    val t0 = java.time.Instant.parse("2024-01-05T00:00:00Z")
    assert(encodeBound(t0) == BigDecimal(t0.getEpochSecond) * 1000000)
    assert(encodeBound(java.sql.Timestamp.from(t0)) == encodeBound(t0))
    assert(encodeBound(java.time.LocalDate.of(2024, 1, 5)) ==
      BigDecimal(19727))
    assert(encodeBound(
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 5))) ==
      BigDecimal(19727))
    assert(encodeBound(false) < encodeBound(true))
    // numbers keep the pre-r14 encoding bit-for-bit
    assert(encodeBound(42L) == BigDecimal("42"))
    assert(encodeBound(1.5d) == BigDecimal("1.5"))
  }

  test("string stats: typed range and prefix reads prune files and match " +
      "the plain filter exactly") {
    import spark.implicits._
    val t = freshTable()
    val rows = (1 to 400).map(i => (f"key-$i%05d", i.toLong))
    SnapshotOps.commitAppend(spark, t,
      rows.toDF("k", "v").repartitionByRange(8, col("k")),
      statsCols = Seq("k"))
    val v = SnapshotOps.currentVersion(t)
    val total = SnapshotOps.snapshotEntries(t, v).size
    assert(total >= 4) // range partitioning actually split the data
    // range probe: a narrow band must open a strict subset of files
    val kept = SnapshotOps.rangeFiles(t, v, "k",
      SnapshotOps.encodeBound("key-00100"),
      SnapshotOps.encodeBound("key-00120")).size
    assert(kept < total, s"range probe kept $kept of $total files")
    val got = SnapshotOps.readSnapshotRangeOf(spark, t, v, "k",
      "key-00100", "key-00120").select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (100L to 120L).toSeq)
    // prefix probe (LIKE 'key-002%'): 200..299, again pruned
    val prefKept = SnapshotOps.rangeFiles(t, v, "k",
      SnapshotOps.encodeBound("key-002"),
      SnapshotOps.prefixUpperBound("key-002")).size
    assert(prefKept < total, s"prefix probe kept $prefKept of $total")
    val pref = SnapshotOps.readSnapshotPrefix(spark, t, v, "k", "key-002")
      .select("v").collect().map(_.getLong(0)).sorted.toSeq
    assert(pref == (200L to 299L).toSeq)
  }

  test("string bounds truncate at 12 bytes: collisions beyond the prefix " +
      "only ADMIT files — a probe past the width still reads exactly") {
    import spark.implicits._
    val t = freshTable()
    // every key shares the first 12 bytes; order is decided beyond
    // the truncation width, so ALL files carry identical bounds and
    // NO file may be skipped for any in-prefix probe
    val rows = (1 to 60).map(i => (f"sharedprefix-$i%04d", i.toLong))
    SnapshotOps.commitAppend(spark, t,
      rows.toDF("k", "v").repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    val v = SnapshotOps.currentVersion(t)
    val total = SnapshotOps.snapshotEntries(t, v).size
    // pruning is (correctly) impossible: encoded lo == hi everywhere
    assert(SnapshotOps.rangeFiles(t, v, "k",
      SnapshotOps.encodeBound("sharedprefix-0010"),
      SnapshotOps.encodeBound("sharedprefix-0020")).size == total)
    // …and the typed residual keeps the result exact regardless
    val got = SnapshotOps.readSnapshotRangeOf(spark, t, v, "k",
      "sharedprefix-0010", "sharedprefix-0020").select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (10L to 20L).toSeq)
    // prefix longer than the width degenerates to lo == hi — correct
    val pref = SnapshotOps.readSnapshotPrefix(spark, t, v, "k",
      "sharedprefix-003").select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pref == (30L to 39L).toSeq)
  }

  test("timestamp stats: time-window reads prune to the covering files " +
      "and match the plain filter") {
    import spark.implicits._
    val t = freshTable()
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val rows = (0 until 240).map(i =>
      (java.sql.Timestamp.from(base.plusSeconds(i * 3600L)), i.toLong))
    SnapshotOps.commitAppend(spark, t,
      rows.toDF("ts", "v").repartitionByRange(6, col("ts")),
      statsCols = Seq("ts"))
    val v = SnapshotOps.currentVersion(t)
    val total = SnapshotOps.snapshotEntries(t, v).size
    val (lo, hi) = (base.plusSeconds(100 * 3600L),
      base.plusSeconds(110 * 3600L))
    val kept = SnapshotOps.rangeFiles(t, v, "ts",
      SnapshotOps.encodeBound(lo), SnapshotOps.encodeBound(hi)).size
    assert(kept < total, s"window kept $kept of $total files")
    val got = SnapshotOps.readSnapshotRangeOf(spark, t, v, "ts", lo, hi)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (100L to 110L).toSeq)
  }

  test("commitRewrite candidates: a current-version hint bounds " +
      "discovery, a stale-version hint is dropped, never trusted") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (0L until 50L).map(i => (i, "base")).toDF("k", "tag"),
      statsCols = Seq("k"))
    SnapshotOps.commitAppend(spark, t,
      (100L until 150L).map(i => (i, "base")).toDF("k", "tag"),
      statsCols = Seq("k"))
    val v = SnapshotOps.currentVersion(t)
    // current-version hint from the manifest itself: only the second
    // band may hold matches
    val cand = SnapshotOps.rangeFiles(t, v, "k",
      BigDecimal(100), BigDecimal(110))
    assert(cand.size < SnapshotOps.snapshotFileCount(t, v))
    val c1 = SnapshotOps.commitRewrite(spark, t,
      col("k").between(100, 110), _.withColumn("tag", lit("hit")),
      candidates = (v, cand))
    assert(c1.reused >= 1, s"first band must carry forward: $c1")
    assert(SnapshotOps.readLatest(spark, t).where(col("tag") === "hit")
      .count() == 11)
    // STALE hint claiming "no files can match": version mismatch must
    // drop it — the rewrite still finds and updates the matching rows
    val c2 = SnapshotOps.commitRewrite(spark, t, col("k") < 5,
      _.withColumn("tag", lit("stale-test")),
      candidates = (v, Seq.empty)) // v is no longer current
    assert(c2.written > 0)
    assert(SnapshotOps.readLatest(spark, t)
      .where(col("tag") === "stale-test").count() == 5)
    // a CURRENT-version empty hint is a proof of no matches: the
    // commit lands as a pure carry-forward, zero files written
    val vNow = SnapshotOps.currentVersion(t)
    val c3 = SnapshotOps.commitRewrite(spark, t, lit(true),
      _.withColumn("tag", lit("never")),
      candidates = (vNow, Seq.empty))
    assert(c3.written == 0)
    assert(SnapshotOps.readLatest(spark, t)
      .where(col("tag") === "never").count() == 0)
  }

  test("commit stats come from parquet footers — zero Spark jobs — " +
      "and decode bit-identically to the distributed pass") {
    import spark.implicits._
    val t = freshTable()
    val rows = (1 to 100).map(i => (i.toLong, i / 10.0,
      f"key-$i%05d", java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i)), i % 2 == 0))
    val before = SnapshotOps.footerStatsHits.get()
    SnapshotOps.commitAppend(spark, t,
      rows.toDF("id", "score", "k", "d", "flag"),
      statsCols = Seq("id", "score", "k", "d", "flag"))
    assert(SnapshotOps.footerStatsHits.get() > before,
      "long/double/string/date/bool stats must be footer-served")
    val bounds = SnapshotOps.snapshotEntries(t, 1)
    def merged(c: String): (BigDecimal, BigDecimal) = {
      val bs = bounds.flatMap(_.bounds.get(c))
      (bs.map(_._1).min, bs.map(_._2).max)
    }
    assert(merged("id") == (BigDecimal(1), BigDecimal(100)))
    assert(merged("score") == (BigDecimal("0.1"), BigDecimal("10.0")))
    assert(merged("k") == (SnapshotOps.encodeBound("key-00001"),
      SnapshotOps.encodeBound("key-00100")))
    assert(merged("d") == (
      SnapshotOps.encodeBound(java.time.LocalDate.of(2024, 1, 2)),
      SnapshotOps.encodeBound(java.time.LocalDate.of(2024, 4, 10))))
    assert(merged("flag") == (BigDecimal(0), BigDecimal(1)))
    // metadata-only count from footer row counts
    assert(SnapshotOps.snapshotRowCount(t, 1).contains(100L))
    // …and the typed reads prune/filter exactly on footer bounds
    assert(SnapshotOps.readSnapshotRangeOf(spark, t, 1, "k",
      "key-00010", "key-00012").count() == 3)
  }

  test("footer stats fall back to the distributed pass for INT96 " +
      "timestamps — bounds identical either way") {
    import spark.implicits._
    val t = freshTable()
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val rows = (0 until 50).map(i =>
      (java.sql.Timestamp.from(base.plusSeconds(i * 60L)), i.toLong))
    val before = SnapshotOps.footerStatsHits.get()
    SnapshotOps.commitAppend(spark, t, rows.toDF("ts", "v"),
      statsCols = Seq("ts"))
    // Spark's default parquet timestamp is INT96 (no usable stats):
    // the footer path must decline, never guess
    assert(SnapshotOps.footerStatsHits.get() == before,
      "INT96 timestamp stats must not be footer-served")
    val bs = SnapshotOps.snapshotEntries(t, 1).flatMap(_.bounds.get("ts"))
    assert(bs.map(_._1).min == SnapshotOps.encodeBound(base))
    assert(bs.map(_._2).max ==
      SnapshotOps.encodeBound(base.plusSeconds(49 * 60L)))
  }

  test("commitMerge prunes its probe from the source key range: " +
      "untouched bands reuse, disjoint sources are pure appends") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (0L until 50L).map(i => (i, "base")).toDF("k", "tag"),
      statsCols = Seq("k"))
    SnapshotOps.commitAppend(spark, t,
      (100L until 150L).map(i => (i, "base")).toDF("k", "tag"),
      statsCols = Seq("k"))
    // source inside the second band only: first band must carry
    // forward (reused), matched rows replaced, new key inserted
    val c1 = SnapshotOps.commitMerge(spark, t,
      Seq((100L, "upd"), (101L, "upd"), (990L, "new"))
        .toDF("k", "tag"), Seq("k"))
    assert(c1.reused >= 1, s"first band must reuse: $c1")
    val after = SnapshotOps.readLatest(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after(100L) == "upd" && after(101L) == "upd" &&
      after(990L) == "new" && after(0L) == "base" &&
      after.size == 101)
    // source entirely OUTSIDE every band: provably zero matches —
    // every existing file reuses, the merge is a pure append
    val pre = SnapshotOps.snapshotEntries(t,
      SnapshotOps.currentVersion(t)).size
    val c2 = SnapshotOps.commitMerge(spark, t,
      Seq((5000L, "far")).toDF("k", "tag"), Seq("k"))
    assert(c2.reused == pre, s"disjoint merge must reuse all: $c2")
    assert(SnapshotOps.readLatest(spark, t).count() == 102)
  }

  test("string stats survive compaction: rewrites recompute the same " +
      "typed bounds for the files they produce") {
    import spark.implicits._
    val t = freshTable()
    val rows = (1 to 200).map(i => (f"key-$i%05d", i.toLong))
    // two appends → several small files, then compact collapses them
    SnapshotOps.commitAppend(spark, t,
      rows.take(100).toDF("k", "v").repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    SnapshotOps.commitAppend(spark, t,
      rows.drop(100).toDF("k", "v").repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    SnapshotOps.commitCompact(spark, t, nFiles = 2)
    val v = SnapshotOps.currentVersion(t)
    val entries = SnapshotOps.snapshotEntries(t, v)
    // the compacted files carry recomputed string bounds…
    assert(entries.forall(_.bounds.contains("k")),
      s"compaction must recompute string bounds: $entries")
    // …and a typed pruned read over the compacted table stays exact
    val got = SnapshotOps.readSnapshotRangeOf(spark, t, v, "k",
      "key-00050", "key-00150").select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (50L to 150L).toSeq)
  }

  // ---- named refs: tags -------------------------------------------------

  test("tags: immutable named pins — create/list/resolve/drop, double " +
      "create and missing version fail loudly") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "s"))
    SnapshotOps.commitAppend(spark, t, Seq((2L, "b")).toDF("id", "s"))
    SnapshotOps.createTag(t, "rel", 1)
    SnapshotOps.createTag(t, "head", 2)
    assert(SnapshotOps.listTags(t) == Seq("head" -> 2, "rel" -> 1))
    assert(SnapshotOps.tagVersion(t, "rel").contains(1))
    intercept[IllegalArgumentException](SnapshotOps.createTag(t, "rel", 2))
    intercept[IllegalArgumentException](SnapshotOps.createTag(t, "x", 9))
    intercept[IllegalArgumentException](
      SnapshotOps.createTag(t, "../evil", 1))
    assert(SnapshotOps.dropTag(t, "rel"))
    assert(!SnapshotOps.dropTag(t, "rel"))
    assert(SnapshotOps.tagVersion(t, "rel").isEmpty)
  }

  test("tags pin their version through vacuum: the tagged manifest and " +
      "files survive the horizon; dropping the tag releases them") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t, Seq((1L, "v1")).toDF("id", "s"))
    SnapshotOps.commitAppend(spark, t, Seq((2L, "v2")).toDF("id", "s"))
    // v3 rewrites EVERYTHING so v1's files are referenced only by old
    // versions — exactly what an untagged vacuum would reclaim
    SnapshotOps.commitRewrite(spark, t, lit(true),
      _.withColumn("s", concat(col("s"), lit("!"))))
    SnapshotOps.createTag(t, "audit2026", 1)
    val (dropped, deleted) = SnapshotOps.vacuum(t, keepVersions = 1,
      graceMs = 0)
    assert(dropped == 1, s"only the untagged v2 drops, got $dropped")
    // the tagged snapshot still reads exactly
    val v1 = SnapshotOps.readSnapshot(spark, t, 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v1 == Seq(1L -> "v1"))
    // time travel to the untagged v2 is gone (loud, not wrong)
    intercept[Exception](SnapshotOps.readSnapshot(spark, t, 2).collect())
    // releasing the tag lets the next vacuum take v1 and its files
    SnapshotOps.dropTag(t, "audit2026")
    val (dropped2, deleted2) = SnapshotOps.vacuum(t, keepVersions = 1,
      graceMs = 0)
    assert(dropped2 == 1)
    assert(deleted2 >= 1, "v1's files must be reclaimed once untagged")
    assert(deleted >= 0) // v2-only files (none here) were already eligible
  }

  // ---- named refs: branch forks -----------------------------------------

  test("branch fork: isolated two-way — branch DML invisible to main, " +
      "main append invisible to the branch; drop removes only " +
      "branch-written data") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 6L).map(i => (i, s"m$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")), statsCols = Seq("id"))
    val bd = SnapshotOps.createBranchFork(t, "dev", 1)
    // the fork is pure metadata: it references the parent files in place
    assert(SnapshotOps.snapshotFiles(bd,
      SnapshotOps.currentVersion(bd)).toSet ==
      SnapshotOps.snapshotFiles(t, 1).toSet)
    // full DML lifecycle ON the branch: append, COW update, MoR delete
    SnapshotOps.commitAppend(spark, bd, Seq((7L, "b7")).toDF("id", "s"))
    SnapshotOps.commitRewrite(spark, bd, col("id") === 2L,
      _.withColumn("s", lit("patched")))
    SnapshotOps.commitDelete(spark, bd, col("id") === 5L)
    val branchRows = SnapshotOps.readLatest(spark, bd)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(branchRows == Seq(1L -> "m1", 2L -> "patched", 3L -> "m3",
      4L -> "m4", 6L -> "m6", 7L -> "b7"))
    // main is untouched by all of it
    assert(SnapshotOps.currentVersion(t) == 1)
    val mainRows = SnapshotOps.readLatest(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(mainRows == (1L to 6L).map(i => (i, s"m$i")))
    assert(SnapshotOps.listBranchForks(t) == Seq("dev"))
    // dropping the fork deletes branch-written files, never parent data
    assert(SnapshotOps.dropBranchFork(t, "dev"))
    assert(SnapshotOps.listBranchForks(t).isEmpty)
    assert(SnapshotOps.readLatest(spark, t).count() == 6)
  }

  test("fast-forward adopts the branch history onto main: content, " +
      "version numbers, time travel and diff span the adopted range; " +
      "the fork is consumed") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      (1L to 4L).map(i => (i, s"m$i")).toDF("id", "s")) // v1
    val bd = SnapshotOps.createBranchFork(t, "etl", 1)
    SnapshotOps.commitAppend(spark, bd,
      Seq((5L, "b5"), (6L, "b6")).toDF("id", "s"))      // branch v2
    SnapshotOps.commitRewrite(spark, bd, col("id") === 1L,
      _.withColumn("s", lit("fixed")))                  // branch v3
    val c = SnapshotOps.fastForward(t, "etl")
    assert(c.version == 3 && c.written == 2, c)
    assert(SnapshotOps.currentVersion(t) == 3)
    assert(SnapshotOps.listBranchForks(t).isEmpty)
    val rows = SnapshotOps.readLatest(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq(1L -> "fixed", 2L -> "m2", 3L -> "m3",
      4L -> "m4", 5L -> "b5", 6L -> "b6"))
    // adopted intermediate version time-travels on MAIN
    val v2 = SnapshotOps.readSnapshot(spark, t, 2)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(v2 == (1L to 6L))
    // no manifest line references the (deleted) branch dir
    assert(SnapshotOps.snapshotFiles(t, 3).forall(!_.contains("/branches/")))
    // appends-since spans the adopted append-only prefix (v1 -> v2
    // added ids 5,6), and the full span correctly REFUSES because the
    // adopted v3 is a rewrite — the carried history has real
    // semantics, not just content
    val added = SnapshotOps.readAppendsSince(spark, t, 1, 2)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(added == Seq(5L, 6L))
    intercept[IllegalArgumentException](
      SnapshotOps.readAppendsSince(spark, t, 1, 3))
    // vacuum after adoption reclaims nothing still referenced
    SnapshotOps.vacuum(t, keepVersions = 3, graceMs = 0)
    assert(SnapshotOps.readLatest(spark, t).count() == 6)
  }

  test("fast-forward refuses a diverged parent; vacuum on the parent " +
      "never reclaims files a live fork references") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val bd = SnapshotOps.createBranchFork(t, "dev", 1)
    SnapshotOps.commitAppend(spark, bd, Seq((2L, "b")).toDF("id", "s"))
    // parent moves past the fork point: rewrite drops v1's files from
    // the parent's own live set
    SnapshotOps.commitRewrite(spark, t, lit(true),
      _.withColumn("s", lit("z")))
    intercept[java.util.ConcurrentModificationException](
      SnapshotOps.fastForward(t, "dev"))
    // the branch still reads: vacuum must have pinned the v1 files the
    // fork's seed references even though the parent horizon dropped v1
    SnapshotOps.vacuum(t, keepVersions = 1, graceMs = 0)
    val branchRows = SnapshotOps.readLatest(spark, bd)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(branchRows == Seq(1L -> "a", 2L -> "b"))
    SnapshotOps.dropBranchFork(t, "dev")
  }

  test("branch fork shares the sequence space: an eq-delete committed on " +
      "the branch applies to parent-inherited rows, and survives " +
      "fast-forward") {
    import spark.implicits._
    val t = freshTable()
    SnapshotOps.commitAppend(spark, t,
      Seq((1L, "keep"), (2L, "kill")).toDF("id", "s")) // v1, seq 1
    SnapshotOps.commitAppend(spark, t,
      Seq((3L, "keep")).toDF("id", "s"))               // v2, seq 2
    val bd = SnapshotOps.createBranchFork(t, "dev", 2)
    // eq-delete id=2 on the branch (branch v3, seq 3 > seq 1) then
    // re-insert id=2 (branch v4, seq 4 — must survive its own delete)
    SnapshotOps.commitDeleteByKey(spark, bd,
      Seq(2L).toDF("id"))
    SnapshotOps.commitAppend(spark, bd,
      Seq((2L, "reborn")).toDF("id", "s"))
    val branchRows = SnapshotOps.readLatest(spark, bd)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(branchRows == Seq(1L -> "keep", 2L -> "reborn", 3L -> "keep"))
    SnapshotOps.fastForward(t, "dev")
    val mainRows = SnapshotOps.readLatest(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(mainRows == Seq(1L -> "keep", 2L -> "reborn", 3L -> "keep"))
  }
}
