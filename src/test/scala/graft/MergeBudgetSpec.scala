package graft

import graft.operators.SnapshotOps

/** The key-routed MERGE's cost, pinned by counters rather than seconds:
  * the Spark jobs one statement launches, the records its tasks read,
  * and the label every one of those jobs carries. Next to the budget,
  * the clause shapes the route serves keep their results. */
class MergeBudgetSpec extends SparkSpecBase {

  /** A table of four one-file commits: ids 1-100, 101-200, 201-300 and
    * 301-400, each with qty = id. */
  private def fourFileTable(e: Engine, name: String): String = {
    e.executeDuck(s"CREATE TABLE $name (id int, k int, qty int)")
    (0 until 4).foreach { f =>
      e.executeDuck(s"INSERT INTO $name VALUES " + (1 to 100)
        .map(i => s"(${f * 100 + i}, ${i % 7}, ${f * 100 + i})").mkString(", "))
    }
    val dir = e.snapshotDir(name).get
    assert(SnapshotOps.snapshotFileCount(dir, 4) == 4)
    dir
  }

  private def rowsOf(e: Engine, sql: String): Seq[(Int, Int)] =
    e.executeDuck(sql).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

  /** The upsert MERGE of table `t` from `<t>_stg (sid, sqty)`. */
  private def upsert(t: String): String =
    s"""MERGE INTO $t USING ${t}_stg ON $t.id = ${t}_stg.sid
      |WHEN MATCHED THEN UPDATE SET qty = ${t}_stg.sqty
      |WHEN NOT MATCHED THEN INSERT (id, k, qty)
      |  VALUES (${t}_stg.sid, 0, ${t}_stg.sqty)""".stripMargin

  test("a key-routed upsert MERGE on a multi-file table launches at " +
      "most 12 labelled jobs and reads each target file at most twice") {
    val e = new Engine(spark)
    fourFileTable(e, "mb")
    val tableRows = 400L
    // matched keys in the first two files only, plus three inserts
    e.executeDuck("CREATE OR REPLACE TABLE mb_stg AS SELECT * FROM (VALUES " +
      "(5, 1005), (50, 1050), (150, 1150), (199, 1199), (901, 901), " +
      "(902, 902), (903, 903)) AS v(sid, sqty)")
    val jobs = jobsOf(e.executeDuck(upsert("mb")))
    val table = jobs.map(j => f"job ${j.id}%4d ${j.records}%6d  ${j.desc}")
      .mkString("\n")
    info(s"${jobs.size} jobs (id, input records, label):\n$table")
    assert(jobs.size <= 12, s"${jobs.size} MERGE jobs:\n$table")
    assert(jobs.map(_.records).sum <= 2 * tableRows,
      s"${jobs.map(_.records).sum} input records for $tableRows table " +
        s"rows:\n$table")
    val phase = """MERGE mb: (probe|resolve|rewrite|stats|commit)""".r
    val unlabelled = jobs.filterNot(j => phase.matches(j.desc))
    assert(unlabelled.isEmpty, s"jobs without a MERGE label:\n$table")
    // the caller's own description is restored after the statement
    assert(spark.sparkContext.getLocalProperty("spark.job.description")
      == null)
    val c = e.lastCommit("mb")
    assert(c.written == 1 && c.reused == 2, c.toString)
    val got = rowsOf(e, "SELECT id, qty FROM mb WHERE id IN " +
      "(5, 6, 50, 150, 199, 250, 901, 902, 903) ORDER BY id")
    assert(got == Seq(5 -> 1005, 6 -> 6, 50 -> 1050, 150 -> 1150,
      199 -> 1199, 250 -> 250, 901 -> 901, 902 -> 902, 903 -> 903), got)
    assert(e.executeDuck("SELECT count(*) FROM mb").collect()(0)
      .getLong(0) == 403L)
    e.close()
  }

  test("the key-routed MERGE keeps its results: duplicate touched " +
      "target key, conditional clause, matched DELETE, a renamed " +
      "column and an equality-deleted key") {
    val e = new Engine(spark)
    def table(name: String, rows: String): String = {
      e.executeDuck(s"CREATE TABLE $name (id int, qty int)")
      e.executeDuck(s"INSERT INTO $name VALUES $rows")
      e.snapshotDir(name).get
    }
    // a duplicate touched target key declines the key route: the full
    // rewrite (one more commit, every file rewritten) lands the result
    val dd = table("mb_dup", "(1, 5), (1, 50), (2, 7)")
    e.executeDuck("INSERT INTO mb_dup VALUES (3, 30)")
    e.executeDuck("CREATE TABLE mb_dups (k int)")
    e.executeDuck("INSERT INTO mb_dups VALUES (1)")
    e.executeDuck("""MERGE INTO mb_dup USING mb_dups ON mb_dup.id = mb_dups.k
      |WHEN MATCHED AND mb_dup.qty >= 10 THEN UPDATE SET qty = 0"""
      .stripMargin)
    assert(rowsOf(e, "SELECT id, qty FROM mb_dup ORDER BY id, qty") ==
      Seq(1 -> 0, 1 -> 5, 2 -> 7, 3 -> 30))
    assert(SnapshotOps.currentVersion(dd) == 3)
    assert(e.lastCommit("mb_dup").reused == 0, e.lastCommit("mb_dup"))

    // a conditional clause and a matched DELETE in one statement: the
    // first true clause wins per row, a row winning none carries
    table("mb_cd", "(1, 5), (2, 50), (3, 500), (4, 1)")
    e.executeDuck("INSERT INTO mb_cd VALUES (10, 10)")
    e.executeDuck("CREATE TABLE mb_cds (k int, dq int)")
    e.executeDuck("INSERT INTO mb_cds VALUES (1, 10), (2, 10), (3, 10), " +
      "(9, 9)")
    e.executeDuck("""MERGE INTO mb_cd USING mb_cds ON mb_cd.id = mb_cds.k
      |WHEN MATCHED AND mb_cd.qty >= 100 THEN DELETE
      |WHEN MATCHED AND mb_cd.qty >= 10 THEN
      |  UPDATE SET qty = mb_cd.qty + mb_cds.dq
      |WHEN NOT MATCHED AND mb_cds.dq > 5 THEN
      |  INSERT (id, qty) VALUES (k, dq)"""
      .stripMargin)
    assert(rowsOf(e, "SELECT id, qty FROM mb_cd ORDER BY id") ==
      Seq(1 -> 5, 2 -> 60, 4 -> 1, 9 -> 9, 10 -> 10))
    assert(e.lastCommit("mb_cd").reused == 1, e.lastCommit("mb_cd"))

    // a renamed (column-mapped) table merges under its logical names
    val rd = table("mb_ren", "(1, 10), (2, 20)")
    e.executeDuck("ALTER TABLE mb_ren RENAME COLUMN qty TO amount")
    assert(SnapshotOps.columnMapping(rd, SnapshotOps.currentVersion(rd))
      .nonEmpty)
    e.executeDuck("CREATE TABLE mb_rens (k int, a int)")
    e.executeDuck("INSERT INTO mb_rens VALUES (2, 22), (3, 33)")
    e.executeDuck("""MERGE INTO mb_ren USING mb_rens ON mb_ren.id = mb_rens.k
      |WHEN MATCHED THEN UPDATE SET amount = mb_rens.a
      |WHEN NOT MATCHED THEN INSERT (id, amount) VALUES (k, a)"""
      .stripMargin)
    assert(rowsOf(e, "SELECT id, amount FROM mb_ren ORDER BY id") ==
      Seq(1 -> 10, 2 -> 22, 3 -> 33))

    // an equality-deleted key is absent: the merge inserts it, it does
    // not resurrect the deleted row (nor update it)
    table("mb_eq", "(1, 10), (2, 20), (3, 30)")
    e.executeDuck("SET delete_mode = 'eq'")
    try e.executeDuck("DELETE FROM mb_eq WHERE id = 2")
    finally e.executeDuck("SET delete_mode = 'cow'")
    e.executeDuck("CREATE TABLE mb_eqs (k int, q int)")
    e.executeDuck("INSERT INTO mb_eqs VALUES (2, 222), (3, 333)")
    e.executeDuck("""MERGE INTO mb_eq USING mb_eqs ON mb_eq.id = mb_eqs.k
      |WHEN MATCHED THEN UPDATE SET qty = mb_eq.qty + mb_eqs.q
      |WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (k, q)"""
      .stripMargin)
    assert(rowsOf(e, "SELECT id, qty FROM mb_eq ORDER BY id") ==
      Seq(1 -> 10, 2 -> 222, 3 -> 363))
    e.close()
  }

  test("a copy-on-write UPDATE over three touched files writes one file") {
    val e = new Engine(spark)
    fourFileTable(e, "mbu")
    e.executeDuck("UPDATE mbu SET qty = 0 WHERE id IN (5, 150, 250)")
    val c = e.lastCommit("mbu")
    assert(c.written == 1 && c.reused == 1, c.toString)
    assert(rowsOf(e, "SELECT id, qty FROM mbu WHERE qty = 0 ORDER BY id") ==
      Seq(5 -> 0, 150 -> 0, 250 -> 0))
    e.close()
  }

  test("a 100-row MERGE into a 5,000-row table writes one file") {
    val e = new Engine(spark)
    e.register("mbf", spark.range(5000).selectExpr("CAST(id AS int) AS id",
      "CAST(id % 7 AS int) AS k", "CAST(id AS int) AS qty"))
    // the first INSERT makes the registered frame a snapshot table
    e.executeDuck("INSERT INTO mbf VALUES (5000, 0, 5000)")
    // 60 matched ids across the table and 40 fresh ones
    val src = (0 until 60).map(i => 83 * i) ++ (6000 until 6040)
    e.executeDuck("CREATE OR REPLACE TABLE mbf_stg AS SELECT * FROM " +
      "(VALUES " + src.map(i => s"($i, ${-i - 1})").mkString(", ") +
      ") AS v(sid, sqty)")
    e.executeDuck(upsert("mbf"))
    val c = e.lastCommit("mbf")
    assert(c.written == 1, c.toString)
    assert(e.executeDuck("SELECT count(*) FROM mbf").collect()(0)
      .getLong(0) == 5041L)
    assert(rowsOf(e, "SELECT id, qty FROM mbf WHERE qty < 0 ORDER BY id") ==
      src.sorted.map(i => i -> (-i - 1)))
    e.close()
  }

  test("three rounds of the upsert MERGE grow the table by at most two " +
      "files each") {
    val e = new Engine(spark)
    val dir = fourFileTable(e, "mbr")
    (0 until 3).foreach { r =>
      val before = SnapshotOps.snapshotFileCount(dir,
        SnapshotOps.currentVersion(dir))
      // two matched keys in different files, and three new ids
      val src = Seq(10 + r, 310 - r, 1000 + 3 * r, 1001 + 3 * r, 1002 + 3 * r)
      e.executeDuck("CREATE OR REPLACE TABLE mbr_stg AS SELECT * FROM " +
        "(VALUES " + src.map(i => s"($i, ${-i})").mkString(", ") +
        ") AS v(sid, sqty)")
      e.executeDuck(upsert("mbr"))
      val after = SnapshotOps.snapshotFileCount(dir,
        SnapshotOps.currentVersion(dir))
      assert(after <= before + 2, s"round $r: $before -> $after files")
    }
    assert(e.executeDuck("SELECT count(*) FROM mbr").collect()(0)
      .getLong(0) == 409L)
    assert(rowsOf(e, "SELECT id, qty FROM mbr WHERE qty < 0 ORDER BY id")
      .size == 15)
    e.close()
  }

  test("a key-routed MERGE and a merge-on-read UPDATE log no WARN") {
    val e = new Engine(spark)
    fourFileTable(e, "mbw")
    e.executeDuck("CREATE OR REPLACE TABLE mbw_stg AS SELECT * FROM " +
      "(VALUES (5, 1005), (150, 1150), (901, 901)) AS v(sid, sqty)")
    val warned = warningsOf {
      e.executeDuck(upsert("mbw"))
      e.executeDuck("SET update_mode = 'mor'")
      try e.executeDuck("UPDATE mbw SET qty = 0 WHERE id BETWEEN 20 AND 30")
      finally e.executeDuck("SET update_mode = 'cow'")
    }
    assert(warned.isEmpty, warned.mkString("\n"))
    assert(rowsOf(e, "SELECT id, qty FROM mbw WHERE id IN (5, 25, 150, " +
      "901) ORDER BY id") == Seq(5 -> 1005, 25 -> 0, 150 -> 1150, 901 -> 901))
    e.close()
  }
}
