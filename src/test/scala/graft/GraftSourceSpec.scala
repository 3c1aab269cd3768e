package graft

import org.apache.spark.sql.functions._
import graft.operators.SnapshotOps
import graft.sources.{GraftFileIndex, GraftRelation}

/** The `graft` data-source format + manifest-backed FileIndex (r16):
  * vanilla `spark.read.format("graft")` reads of snapshot tables
  * without the Engine, and execution-time manifest pruning that fires
  * from ANY plan shape — the structural fix for ScanPrune's
  * single-table ceiling. */
class GraftSourceSpec extends SparkSpecBase {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_src_spec").toString + "/t"

  test("format(\"graft\") reads the current snapshot, versionAsOf " +
      "time-travels, tags and branch forks resolve as refs") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotOps.commitAppend(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("id", "v"))                       // v1
    SnapshotOps.commitAppend(spark, dir,
      Seq((3, "c")).toDF("id", "v"))                                 // v2
    SnapshotOps.createTag(dir, "rel", 1)
    val bd = SnapshotOps.createBranchFork(dir, "dev", 2)
    SnapshotOps.commitAppend(spark, bd, Seq((9, "z")).toDF("id", "v"))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.select("id").collect().map(_.getInt(0)).sorted.toSeq
    val cur = spark.read.format("graft").load(dir)
    assert(cur.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(ids(cur) == Seq(1, 2, 3))
    assert(ids(spark.read.format("graft")
      .option("versionAsOf", "1").load(dir)) == Seq(1, 2))
    assert(ids(spark.read.format("graft")
      .option("versionAsOf", "rel").load(dir)) == Seq(1, 2))
    assert(ids(spark.read.format("graft")
      .option("versionAsOf", "dev").load(dir)) == Seq(1, 2, 3, 9))
    // timestampAsOf far in the future resolves to the head
    assert(ids(spark.read.format("graft")
      .option("timestampAsOf", "2999-01-01").load(dir)) == Seq(1, 2, 3))
    intercept[Exception](spark.read.format("graft")
      .option("versionAsOf", "nope").load(dir).collect())
  }

  test("execution-time manifest pruning fires under a JOIN — the plan " +
      "shape ScanPrune structurally cannot attribute") {
    import spark.implicits._
    val dir = freshDir()
    // three banded commits with recorded id bounds → three prunable
    // file groups
    for (band <- 0 to 2)
      SnapshotOps.commitAppend(spark, dir,
        (band * 100 until band * 100 + 50)
          .map(i => (i, s"p-$i")).toDF("id", "payload").coalesce(1),
        statsCols = Seq("id"))
    val total = SnapshotOps.snapshotFileCount(dir, 3)
    assert(total >= 3)
    val fact = spark.read.format("graft").load(dir)
    val dim = Seq((110, "x"), (120, "y")).toDF("k", "tag")
    // the WHERE on the fact side pushes into the scan THROUGH the join
    val joined = fact.join(dim, fact("id") === dim("k"))
      .where(fact("id") >= 100 && fact("id") < 150)
      .select("id", "tag")
    val rows = joined.collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSet == Set((110, "x"), (120, "y")))
    val (kept, listed) = GraftFileIndex.lastPrune.get(dir)
    assert(listed == total)
    assert(kept < total, s"join-shape scan did not prune: $kept/$listed")
    // a filterless read lists everything again (no stale pruning)
    assert(fact.count() == 150)
    assert(GraftFileIndex.lastPrune.get(dir)._1 == total)
  }

  test("IN lists and same-column ORs prune through the Catalyst " +
      "translation; unsupported shapes degrade to a full listing") {
    import spark.implicits._
    val dir = freshDir()
    for (band <- 0 to 2)
      SnapshotOps.commitAppend(spark, dir,
        (band * 100 until band * 100 + 50)
          .map(i => (i, i.toString)).toDF("id", "s").coalesce(1),
        statsCols = Seq("id"))
    val total = SnapshotOps.snapshotFileCount(dir, 3)
    val df = spark.read.format("graft").load(dir)
    assert(df.where(col("id").isin(5, 17)).count() == 2)
    assert(GraftFileIndex.lastPrune.get(dir)._1 < total)
    assert(df.where(col("id") === 5 || col("id") > 210).count() == 40)
    assert(GraftFileIndex.lastPrune.get(dir)._1 < total)
    // a cross-column OR cannot prune — and must not mis-prune
    assert(df.where(col("id") === 5 || col("s") === "201").count() == 2)
    assert(GraftFileIndex.lastPrune.get(dir)._1 == total)
  }

  test("merge-on-read debt routes to the visible-row fallback: DV'd " +
      "and eq-deleted snapshots read correctly via format(\"graft\")") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotOps.commitAppend(spark, dir,
      (1 to 10).map(i => (i, s"r$i")).toDF("id", "v"))              // v1
    SnapshotOps.commitDelete(spark, dir, col("id") === 3)           // v2 DV
    val afterDv = spark.read.format("graft").load(dir)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(afterDv == (1 to 10).filterNot(_ == 3))
    SnapshotOps.commitDeleteByKey(spark, dir,
      Seq(7).toDF("id"))                                            // v3 eq
    val afterEq = spark.read.format("graft").load(dir)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(afterEq == (1 to 10).filterNot(Set(3, 7)))
    // time travel back to the clean v1 uses the pruned relation again
    assert(spark.read.format("graft").option("versionAsOf", "1")
      .load(dir).count() == 10)
  }

  test("hidden partitioning: a bucket-transform point probe prunes " +
      "through the execution path") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotOps.commitSetPartitionSpec(dir,
      Seq(SnapshotOps.parsePartField("bucket(4, id)")))             // v1
    SnapshotOps.commitAppend(spark, dir,
      (1 to 200).map(i => (i, s"p$i")).toDF("id", "v"))             // v2
    val total = SnapshotOps.snapshotFileCount(dir, 2)
    assert(total >= 4, s"expected >=4 bucket files, got $total")
    val df = spark.read.format("graft").load(dir)
    assert(df.where(col("id") === 42).count() == 1)
    val (kept, _) = GraftFileIndex.lastPrune.get(dir)
    assert(kept < total, s"bucket probe did not prune: $kept/$total")
  }

  test("merge-on-read snapshots prune through format(\"graft\") too: " +
      "filters push into the composed plan and skip group files") {
    import spark.implicits._
    val dir = freshDir()
    for (band <- 0 to 2)
      SnapshotOps.commitAppend(spark, dir,
        (band * 100 until band * 100 + 50)
          .map(i => (i, s"p-$i")).toDF("id", "v").coalesce(1),
        statsCols = Seq("id"))                                     // v1-v3
    // an equality delete dirties the table: reads route through the
    // composed visible-row plan, not the clean HadoopFsRelation
    SnapshotOps.commitDeleteByKey(spark, dir,
      Seq(110).toDF("id"))                                         // v4
    val total = SnapshotOps.snapshotFileCount(dir, 4)
    assert(total >= 3)
    GraftFileIndex.lastPrune.remove(dir)
    val df = spark.read.format("graft").load(dir)
      .where(col("id") >= 100 && col("id") < 200)
    val got = df.select("id").collect().map(_.getInt(0)).sorted
    assert(got.toSeq == (100 until 150).filterNot(_ == 110),
      s"eq-delete not applied or band wrong: ${got.take(5).toSeq}…")
    val prune = GraftFileIndex.lastPrune.get(dir)
    assert(prune != null, "dirty read never consulted the manifest index")
    val (kept, tot) = prune
    assert(kept < tot, s"dirty-path filter did not prune: $kept/$tot")
  }

  test("null-count stats (r16): IS NULL skips zero-null files, " +
      "IS NOT NULL skips all-null files — and fires on ordinary " +
      "filters via Spark's injected IsNotNull") {
    import spark.implicits._
    val dir = freshDir()
    def wave(ids: Range, v: Int => Option[Int]) =
      ids.map(i => (i, v(i))).toDF("id", "v").coalesce(1)
    SnapshotOps.commitAppend(spark, dir,
      wave(1 to 50, i => Some(i)), statsCols = Seq("id", "v"))
    SnapshotOps.commitAppend(spark, dir,
      wave(51 to 100, _ => None), statsCols = Seq("id", "v"))
    SnapshotOps.commitAppend(spark, dir,
      wave(101 to 150, i => if (i % 2 == 0) Some(i) else None),
      statsCols = Seq("id", "v"))
    val stats = SnapshotOps.fileNullStats(dir, 3)
    assert(stats.size == 3 &&
      stats.values.map(_._2.getOrElse("v", -1L)).toSeq.sorted ==
        Seq(0L, 25L, 50L), stats)
    val df = spark.read.format("graft").load(dir)
    assert(df.where(col("v").isNull).count() == 75)
    assert(GraftFileIndex.lastPrune.get(dir) == ((2, 3)),
      "IS NULL must skip the zero-null file")
    assert(df.where(col("v").isNotNull).count() == 75)
    assert(GraftFileIndex.lastPrune.get(dir) == ((2, 3)),
      "IS NOT NULL must skip the all-null file")
    // an ordinary equality filter: bounds prune the mixed file, the
    // injected IsNotNull prunes the all-null file (which has NO v
    // bounds — absence alone would keep it)
    assert(df.where(col("v") === 10).count() == 1)
    assert(GraftFileIndex.lastPrune.get(dir) == ((1, 3)),
      "equality must prune via bounds AND the null axis")
  }

  test("commits record the _bytes stat: file listing is a pure " +
      "manifest read and the sizes match the filesystem") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotOps.commitAppend(spark, dir,
      (1 to 100).map(i => (i, s"p$i")).toDF("id", "v").coalesce(1),
      statsCols = Seq("id"))
    SnapshotOps.commitAppend(spark, dir,
      (101 to 200).map(i => (i, s"p$i")).toDF("id", "v").coalesce(1))
    val bytes = SnapshotOps.fileBytes(dir, 2)
    val files = SnapshotOps.snapshotFiles(dir, 2)
    assert(bytes.size == files.size,
      s"every data file records _bytes: ${bytes.size}/${files.size}")
    files.foreach { f =>
      assert(bytes(SnapshotOps.localPath(f)) ==
        new java.io.File(f).length(), s"stale _bytes for $f")
    }
    // the index's sizeInBytes comes straight from the manifest
    val idx = new GraftFileIndex(spark, dir, 2,
      spark.read.parquet(files.head).schema)
    assert(idx.sizeInBytes == files.map(new java.io.File(_).length()).sum)
    assert(spark.read.format("graft").load(dir).count() == 200)
  }

  test("format(\"graft\") writes: append creates and extends, " +
      "columns align by name, mismatches fail loudly") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.format("graft").mode("append").save(dir)              // v1
    assert(SnapshotOps.currentVersion(dir) == 1)
    // reordered frame aligns BY NAME, not position
    Seq(("c", 3)).toDF("v", "id")
      .write.format("graft").mode("append").save(dir)              // v2
    val got = spark.read.format("graft").load(dir)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
    // wrong column set / wrong type fail with clear messages
    intercept[Exception](Seq((4, "d", 1.0)).toDF("id", "v", "x")
      .write.format("graft").mode("append").save(dir))
    intercept[Exception](Seq((4L, "d")).toDF("id", "v")
      .write.format("graft").mode("append").save(dir))
    // ErrorIfExists (writer default) refuses an existing table;
    // Ignore no-ops
    intercept[Exception](Seq((9, "z")).toDF("id", "v")
      .write.format("graft").save(dir))
    Seq((9, "z")).toDF("id", "v")
      .write.format("graft").mode("ignore").save(dir)
    assert(SnapshotOps.currentVersion(dir) == 2)
  }

  test("format(\"graft\") overwrite: one committed version, prior " +
      "units drop, history and time travel span it") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.format("graft").mode("append").save(dir)              // v1
    Seq((3, "c")).toDF("id", "v")
      .write.format("graft").mode("append").save(dir)              // v2
    Seq((7, "q"), (8, "r")).toDF("id", "v")
      .write.format("graft").mode("overwrite").save(dir)           // v3
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(ids(spark.read.format("graft").load(dir)) == Seq(7, 8))
    assert(ids(spark.read.format("graft")
      .option("versionAsOf", "2").load(dir)) == Seq(1, 2, 3))
    assert(SnapshotOps.currentVersion(dir) == 3)
    // the overwrite snapshot references ONLY its own files
    assert(SnapshotOps.snapshotFiles(dir, 3).toSet
      .intersect(SnapshotOps.snapshotFiles(dir, 2).toSet).isEmpty)
  }

  test("format(\"graft\") write stats options feed manifest skipping " +
      "on the read path") {
    import spark.implicits._
    val dir = freshDir()
    for (band <- 0 to 2)
      (band * 100 until band * 100 + 50).map(i => (i, s"p$i"))
        .toDF("id", "v").coalesce(1)
        .write.format("graft").mode("append")
        .option("statsCols", "id").save(dir)
    val total = SnapshotOps.snapshotFileCount(dir, 3)
    assert(total >= 3)
    val df = spark.read.format("graft").load(dir)
    assert(df.where(col("id") >= 210).count() == 40)
    val (kept, tot) = GraftFileIndex.lastPrune.get(dir)
    assert(tot == total && kept < total,
      s"bounds from write options did not prune: $kept/$tot")
  }

  test("interval, timestamp_ntz, decimal, nested and binary columns " +
      "keep their types through the clean path and a DV'd snapshot") {
    val dir = freshDir()
    // parquet has no interval type: the writer stores them as int/long
    // and keeps the Spark schema in the footer's key-value metadata
    val src = spark.sql("""SELECT CAST(id AS INT) AS id,
      |  INTERVAL '1' YEAR AS ym, INTERVAL '1' DAY AS dtv,
      |  TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz,
      |  CAST(id AS DECIMAL(12, 3)) / 8 AS dec,
      |  array(id, id + 1) AS arr, map('k', id) AS m,
      |  named_struct('a', id, 'b', 'x') AS st,
      |  CAST(concat('b', id) AS BINARY) AS bin
      |FROM range(1, 6)""".stripMargin)
    // nullability aside: file-source reads surface every field nullable
    def types(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType.catalogString)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getInt(0)).toSeq
    SnapshotOps.commitAppend(spark, dir, src)                        // v1
    assert(GraftRelation.isClean(dir, 1))
    for (clean <- Seq(SnapshotOps.readSnapshot(spark, dir, 1),
        GraftRelation.frame(spark, dir, 1),
        spark.read.format("graft").load(dir))) {
      assert(types(clean) == types(src))
      assert(rows(clean) == rows(src))
    }
    SnapshotOps.commitDelete(spark, dir, col("id") === 3)           // v2 DV
    val dvd = SnapshotOps.readSnapshot(spark, dir, 2)
    assert(types(dvd) == types(src))
    assert(rows(dvd) == rows(src.where(col("id") =!= 3)))
  }
}
