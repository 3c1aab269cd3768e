package graft

import graft.operators.SnapshotOps
import graft.streaming.SnapshotStream

/** Reads of table-owned parquet files take their schema from cached
  * footers, so no statement over a snapshot table runs Spark's parquet
  * schema inference: one footer-reading job per relation
  * (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`), launched
  * while the read is planned.
  *
  * A listener records the call stack Spark keeps for every stage of
  * every job. Spark drops its own frames from that stack, so it starts
  * at the last Spark method the engine called: for a job launched while
  * a parquet read is planned, `DataFrameReader.parquet`. With a schema
  * supplied, planning a read launches no job but the leaf-file listing
  * of a many-path read, which carries its own "Listing leaf files"
  * description; every other job started from there is inference. A
  * bare read in the same listener window is the positive control. */
class NoSchemaInferenceSpec extends SparkSpecBase {

  /** (job description, stage call stack) of every stage of every job
    * `body` starts. */
  private def stagesOf(body: => Unit): Seq[(String, String)] =
    jobsOf(body).flatMap(j => j.stages.map(s => (j.desc, s)))

  private def isInference(stage: (String, String)): Boolean =
    stage._2.linesIterator.nextOption()
      .exists(_.contains("DataFrameReader.parquet(")) &&
      !stage._1.startsWith("Listing leaf files")

  test("DML, table_changes, a diff-mode drain and compaction run no " +
      "parquet schema-inference job") {
    val e = new Engine(spark)
    e.executeDuck("CREATE TABLE inf (id int, k int, qty int, tag varchar)")
    e.executeDuck("INSERT INTO inf VALUES " + (1 to 300)
      .map(i => s"($i, ${i % 7}, $i, 't$i')").mkString(", "))       // v1
    e.executeDuck("INSERT INTO inf VALUES " + (301 to 400)
      .map(i => s"($i, ${i % 7}, $i, 't$i')").mkString(", "))       // v2
    val dir = e.snapshotDir("inf").get
    e.executeDuck("CREATE OR REPLACE TABLE inf_stg AS SELECT * FROM " +
      "(VALUES (5, 1, 50, 'm5'), (250, 2, 60, 'm250'), (900, 3, 70, " +
      "'m900')) AS v(sid, sk, sqty, stag)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_inf_ckpt")
      .toString

    // positive control: a bare read of one of the table's files infers
    val control = stagesOf(spark.read
      .parquet(SnapshotOps.snapshotFiles(dir, 2).head).count())
    assert(control.count(isInference) == 1, control.mkString("\n"))

    val stages = stagesOf {
      e.executeDuck("UPDATE inf SET qty = qty + 1 WHERE id BETWEEN 10 AND 60")
      e.executeDuck("DELETE FROM inf WHERE id BETWEEN 100 AND 120") // COW
      e.executeDuck("SET delete_mode = 'mor'")
      try e.executeDuck("DELETE FROM inf WHERE id BETWEEN 200 AND 220")
      finally e.executeDuck("SET delete_mode = 'cow'")
      e.executeDuck("""MERGE INTO inf USING inf_stg ON inf.id = inf_stg.sid
        |WHEN MATCHED THEN UPDATE SET qty = inf_stg.sqty
        |WHEN NOT MATCHED THEN INSERT (id, k, qty, tag)
        |  VALUES (inf_stg.sid, inf_stg.sk, inf_stg.sqty, inf_stg.stag)"""
        .stripMargin)
      val head = SnapshotOps.currentVersion(dir)
      assert(e.executeDuck(s"PRAGMA table_changes('inf', 2, $head)")
        .collect().nonEmpty)
      assert(SnapshotStream.drainCollect(spark, dir, ckpt, mode = "diff")
        .nonEmpty)
      SnapshotOps.commitCompact(spark, dir, 2)
    }
    assert(stages.nonEmpty)
    val inference = stages.filter(isInference)
    assert(inference.isEmpty,
      s"${inference.size} of ${stages.size} stages ran schema inference; " +
        s"first call stack:\n${inference.headOption.map(_._2).getOrElse("")}")
  }
}
