package graft

import java.nio.file.Files

/** Engine command-surface tests mirroring the reference benchmark's
  * DDL/DML/meta flows (eval/data/dev.json lines cited per test). */
class EngineSpec extends SparkSpecBase {

  private def engine: Engine = new Engine(spark)

  test("CREATE TABLE + INSERT + SELECT (dev.json:231,239)") {
    val e = engine
    e.executeDuck(
      "CREATE TABLE IF NOT EXISTS products (maker varchar(10), model varchar(10), type varchar(10))")
    e.executeDuck(
      "INSERT INTO products (maker, model, type) VALUES ('A', '1001', 'pc')")
    val r = e.executeDuck("SELECT * FROM products").collect()
    assert(r.length == 1 && r(0).getString(0) == "A")
  }

  test("INSERT with list literal into VARCHAR[] column (dev.json:447,455)") {
    val e = engine
    e.executeDuck("CREATE TABLE cust (customer_id varchar, phone_numbers varchar[])")
    e.executeDuck(
      "INSERT INTO cust VALUES ('c1', ['12312323', '23123344'])")
    val r = e.executeDuck(
      "SELECT phone_numbers[1] AS p1 FROM cust").collect()
    assert(r(0).getString(0) == "12312323")
  }

  test("UPDATE SET col = NULL (dev.json:519)") {
    val e = engine
    e.executeDuck("CREATE TABLE t1 (id int, email varchar)")
    e.executeDuck("INSERT INTO t1 VALUES (1, 'a@x.com')")
    e.executeDuck("INSERT INTO t1 VALUES (2, 'b@x.com')")
    e.executeDuck("UPDATE t1 SET email = NULL")
    val r = e.executeDuck("SELECT email FROM t1").collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("UPDATE with WHERE touches only matching rows") {
    val e = engine
    e.executeDuck("CREATE TABLE t2 (id int, v int)")
    e.executeDuck("INSERT INTO t2 VALUES (1, 10)")
    e.executeDuck("INSERT INTO t2 VALUES (2, 20)")
    e.executeDuck("UPDATE t2 SET v = 0 WHERE id = 1")
    val r = e.executeDuck("SELECT id, v FROM t2 ORDER BY id").collect()
    assert(r(0).getInt(1) == 0 && r(1).getInt(1) == 20)
  }

  test("DELETE with WHERE") {
    val e = engine
    e.executeDuck("CREATE TABLE t3 (id int)")
    e.executeDuck("INSERT INTO t3 VALUES (1)")
    e.executeDuck("INSERT INTO t3 VALUES (2)")
    e.executeDuck("DELETE FROM t3 WHERE id = 1")
    val r = e.executeDuck("SELECT id FROM t3").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(2))
  }

  test("ALTER TABLE ADD COLUMN varchar[] reflects in DESCRIBE (dev.json:455)") {
    val e = engine
    e.executeDuck("CREATE TABLE t4 (id int)")
    e.executeDuck("ALTER TABLE t4 ADD COLUMN phone_numbers VARCHAR[]")
    val d = e.executeDuck("DESCRIBE t4").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("phone_numbers") == "VARCHAR[]")
  }

  test("ALTER COLUMN SET DATA TYPE (dev.json:527)") {
    val e = engine
    e.executeDuck("CREATE TABLE t5 (id int, email varchar)")
    e.executeDuck("INSERT INTO t5 VALUES (7, '42')")
    e.executeDuck("ALTER TABLE t5 ALTER email SET DATA TYPE INTEGER")
    val d = e.executeDuck("DESCRIBE t5").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("email") == "INTEGER")
    assert(e.executeDuck("SELECT email FROM t5").collect()(0).getInt(0) == 42)
  }

  test("CTAS + COPY TO/FROM csv roundtrip (dev.json:327,351)") {
    val e = engine
    Queries.prep(spark, sfDir)
    e.register("customers", spark.table("customer"))
    val dir = Files.createTempDirectory("graft_copy").toString + "/c.csv"
    e.executeDuck(s"COPY customers TO '$dir' (FORMAT CSV)")
    val before = e.table("customers").count()
    e.executeDuck(s"COPY customers FROM '$dir'")
    assert(e.table("customers").count() == before * 2)
  }

  test("column-subset COPY FROM leaves other columns NULL (dev.json:351)") {
    val e = engine
    Queries.prep(spark, sfDir)
    e.register("customers2", spark.table("customer"))
    val dir = Files.createTempDirectory("graft_copy2").toString + "/c2.csv"
    e.executeDuck(
      s"COPY (SELECT c_custkey FROM customers2) TO '$dir' (FORMAT CSV)")
    val before = e.table("customers2").count()
    e.executeDuck(s"COPY customers2 (c_custkey) FROM '$dir'")
    val appended = e.table("customers2")
    assert(appended.count() == before * 2)
    assert(appended.where("c_name IS NULL").count() == before)
  }

  test("COPY TO parquet partitioned (dev.json:343)") {
    val e = engine
    Queries.prep(spark, sfDir)
    e.register("customers3", spark.table("customer"))
    val dir = Files.createTempDirectory("graft_part").toString
    e.executeDuck(
      s"COPY customers3 TO '$dir' (FORMAT PARQUET, PARTITION_BY (c_mktsegment))")
    val back = spark.read.parquet(dir)
    assert(back.count() == e.table("customers3").count())
    assert(back.columns.contains("c_mktsegment"))
  }

  test("ATTACH directory + PRAGMA database_list (dev.json:599)") {
    val e = engine
    val dir = Files.createTempDirectory("graft_attach").toString
    Queries.prep(spark, sfDir)
    spark.table("region").write.mode("overwrite")
      .parquet(s"$dir/region.parquet")
    e.executeDuck(s"ATTACH '$dir' AS extdb")
    val dbs = e.executeDuck("PRAGMA database_list").collect()
      .map(_.getString(1))
    assert(dbs.contains("extdb"))
    assert(e.table("extdb.region").count() == 5)
  }

  test("SET + current_setting roundtrip (dev.json:567,575)") {
    val e = engine
    e.executeDuck("SET memory_limit = '20G'")
    val r = e.executeDuck(
      "SELECT current_setting('memory_limit') AS m").collect()
    // DuckDB 0.9.2 normalizes memory_limit to GiB ('20G' → '18.6 GiB')
    assert(r(0).getString(0) == "18.6 GiB")
  }

  test("PRAGMA show_tables and table_info (dev.json:255,263)") {
    val e = engine
    e.executeDuck("CREATE TABLE vis1 (a int, b varchar)")
    assert(e.executeDuck("PRAGMA show_tables").collect()
      .map(_.getString(0)).contains("vis1"))
    val info = e.executeDuck("PRAGMA table_info('vis1')").collect()
    assert(info.map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .toSeq == Seq((0, "a", "INTEGER"), (1, "b", "VARCHAR")))
  }

  test("CALL pragma_version() (dev.json:247)") {
    val e = engine
    val v = e.executeDuck("CALL pragma_version()").collect()(0).getString(0)
    assert(v.startsWith("graft-"))
  }

  test("SUMMARIZE returns the 12-stat profile (dev.json:191,551)") {
    val e = engine
    Queries.prep(spark, sfDir)
    e.register("nation_s", spark.table("nation"))
    val s = e.executeDuck("SUMMARIZE nation_s")
    assert(s.columns.toSeq == Seq("column_name", "column_type", "min",
      "max", "approx_unique", "avg", "std", "q25", "q50", "q75", "count",
      "null_percentage"))
    assert(s.count() == 3)
  }

  test("bare FROM and EXCLUDE flow through the rewriter (dev.json:287,183)") {
    val e = engine
    e.executeDuck("CREATE TABLE t6 (a int, b int, c int)")
    e.executeDuck("INSERT INTO t6 VALUES (1, 2, 3)")
    val r = e.executeDuck("FROM t6").collect()
    assert(r(0).toSeq == Seq(1, 2, 3))
    val ex = e.executeDuck("SELECT * EXCLUDE (b) FROM t6")
    assert(ex.columns.toSeq == Seq("a", "c"))
  }

  test("struct literal and field access (dev.json:479,503,511)") {
    val e = engine
    val r = e.executeDuck("SELECT {'a': 1, 'b': 2, 'c': 3} AS s").collect()
    assert(r(0).getStruct(0).toSeq == Seq(1, 2, 3))
    e.executeDuck("CREATE TABLE t7 (person STRUCT(name VARCHAR, id INTEGER))")
    e.executeDuck("INSERT INTO t7 VALUES ({'name': 'ada', 'id': 1})")
    val n = e.executeDuck("SELECT person.name AS n FROM t7").collect()
    assert(n(0).getString(0) == "ada")
  }

  test("UPDATE: all SET expressions and WHERE see pre-update values") {
    val e = engine
    e.executeDuck("CREATE TABLE sw (a INT, b INT)")
    e.executeDuck("INSERT INTO sw VALUES (1, 2)")
    e.executeDuck("UPDATE sw SET a = b, b = a")
    val r = e.executeDuck("SELECT a, b FROM sw").collect()(0)
    assert((r.getInt(0), r.getInt(1)) == (2, 1), "swap must swap")
    e.executeDuck("CREATE TABLE sw2 (a INT, b INT)")
    e.executeDuck("INSERT INTO sw2 VALUES (9, 0)")
    e.executeDuck("UPDATE sw2 SET a = 0, b = 1 WHERE a > 5")
    val r2 = e.executeDuck("SELECT a, b FROM sw2").collect()(0)
    assert((r2.getInt(0), r2.getInt(1)) == (0, 1),
      "WHERE must see the old a")
  }

  test("UPDATE/DELETE: a WHERE inside a string literal does not split " +
      "the statement") {
    val e = engine
    e.executeDuck("CREATE TABLE notes (id INT, note VARCHAR)")
    e.executeDuck("INSERT INTO notes VALUES (1, 'x'), (2, 'y')")
    e.executeDuck("UPDATE notes SET note = 'fixed where broken' WHERE id = 1")
    val vals = e.executeDuck("SELECT note FROM notes ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(vals == Seq("fixed where broken", "y"))
    e.executeDuck("DELETE FROM notes WHERE note = 'fixed where broken'")
    assert(e.executeDuck("SELECT count(*) AS n FROM notes")
      .collect()(0).getLong(0) == 1)
  }

  test("read_csv_auto over an http URL fetches to a local tmp (S3 shim, " +
      "dev.json:199)") {
    // zero-egress environment: serve a CSV from loopback instead of the
    // reference's real https URL — the shim's code path is identical
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val body = "id,name\n1,ada\n2,grace\n".getBytes("UTF-8")
    server.createContext("/titanic.csv",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, body.length)
        try ex.getResponseBody.write(body) finally ex.close()
      })
    server.start()
    try {
      val port = server.getAddress.getPort
      val e = engine
      val df = e.executeDuck("CREATE TABLE http_tbl AS SELECT * FROM " +
        s"read_csv_auto('http://127.0.0.1:$port/titanic.csv')")
      val rows = e.executeDuck("SELECT * FROM http_tbl ORDER BY id")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getString(1) == "ada")
    } finally server.stop(0)
  }

  test("MERGE upserts: matched rows update, unmatched rows insert") {
    val e = engine
    e.executeDuck("CREATE TABLE tgt (id int, name varchar, bal double)")
    e.executeDuck("INSERT INTO tgt VALUES (1, 'a', 10.0)")
    e.executeDuck("INSERT INTO tgt VALUES (2, 'b', 20.0)")
    e.executeDuck("CREATE TABLE d (k int, nm varchar, v double)")
    e.executeDuck("INSERT INTO d VALUES (2, 'b2', 99.0)")
    e.executeDuck("INSERT INTO d VALUES (3, 'c', 30.0)")
    e.executeDuck(
      """MERGE INTO tgt USING d ON tgt.id = d.k
        |WHEN MATCHED THEN UPDATE SET bal = d.v
        |WHEN NOT MATCHED THEN INSERT (id, name, bal)
        |VALUES (d.k, d.nm, d.v)""".stripMargin)
    val r = e.executeDuck("SELECT id, name, bal FROM tgt ORDER BY id")
      .collect()
    assert(r.map(x => (x.getInt(0), x.getString(1), x.getDouble(2))).toSeq
      == Seq((1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0)),
      r.mkString(", "))
  }

  test("DML routes through the snapshot layer: INSERT appends a " +
      "version, UPDATE/DELETE are file-granular COW commits with " +
      "untouched files reused, key-shaped MERGE is a committed upsert") {
    import graft.operators.SnapshotOps
    val e = engine
    e.executeDuck("CREATE TABLE st (id int, v int)")
    e.executeDuck("INSERT INTO st VALUES (1, 10)")
    // first INSERT materializes the table: snapshot v1 holds the rows
    val dir = e.snapshotDir("st").get
    assert(SnapshotOps.currentVersion(dir) == 1)
    e.executeDuck("INSERT INTO st VALUES (2, 20)")
    assert(SnapshotOps.currentVersion(dir) == 2)
    assert(e.lastCommit("st").written >= 1)
    // v2 has ≥2 files (one per insert commit); an UPDATE touching only
    // id=2 must REUSE every file of the first insert untouched
    val filesBefore = SnapshotOps.snapshotFiles(dir, 2)
    e.executeDuck("UPDATE st SET v = 99 WHERE id = 2")
    val up = e.lastCommit("st")
    assert(SnapshotOps.currentVersion(dir) == 3)
    assert(up.reused >= 1, s"COW update reused nothing: $up")
    assert(SnapshotOps.snapshotFiles(dir, 3)
      .exists(filesBefore.contains), "untouched file carried forward")
    // DELETE is a COW commit too
    e.executeDuck("DELETE FROM st WHERE id = 1")
    assert(SnapshotOps.currentVersion(dir) == 4)
    assert(e.executeDuck("SELECT * FROM st").count() == 1)
    // key-shaped MERGE lands as one committed upsert version
    e.executeDuck("CREATE TABLE srcm (k int, nv int)")
    e.executeDuck("INSERT INTO srcm VALUES (2, 7)")
    e.executeDuck("INSERT INTO srcm VALUES (5, 50)")
    e.executeDuck(
      """MERGE INTO st USING srcm ON st.id = srcm.k
        |WHEN MATCHED THEN UPDATE SET v = srcm.nv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (srcm.k, srcm.nv)"""
        .stripMargin)
    assert(e.snapshotDir("st").contains(dir))
    assert(SnapshotOps.currentVersion(dir) == 5)
    val r = e.executeDuck("SELECT id, v FROM st ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(r == Seq((2, 7), (5, 50)), r.toString)
    // the mutation HISTORY is committed: every prior version reads
    assert(SnapshotOps.readSnapshot(spark, dir, 2).count() == 2)
    // DDL (ALTER) demotes the table to the lazy path, by design
    e.executeDuck("ALTER TABLE st ADD COLUMN w varchar")
    assert(e.snapshotDir("st").isEmpty)
    assert(e.executeDuck("SELECT * FROM st").columns.toSeq ==
      Seq("id", "v", "w"))
  }

  test("SET delete_mode='mor' routes SQL DELETE through deletion " +
      "vectors: no data file rewritten, default COW is untouched") {
    import graft.operators.SnapshotOps
    val e = engine
    e.executeDuck("CREATE TABLE morsql (id int, v int)")
    e.executeDuck("INSERT INTO morsql VALUES " +
      (1 to 20).map(i => s"($i, $i)").mkString(", "))
    val dir = e.snapshotDir("morsql").get
    val filesV1 = SnapshotOps.snapshotFiles(dir, 1).toSet
    e.executeDuck("SET delete_mode = 'mor'")
    try {
      e.executeDuck("DELETE FROM morsql WHERE id <= 5")
      val c = e.lastCommit("morsql")
      assert(c.written == 0 && c.reused == filesV1.size,
        s"MOR delete rewrote data: $c")
      assert(SnapshotOps.snapshotFiles(dir, c.version).toSet == filesV1)
      assert(SnapshotOps.deleteStats(dir, c.version)._2 == 5L)
      assert(e.executeDuck("SELECT count(*) AS n FROM morsql")
        .collect().head.getLong(0) == 15L)
    } finally e.executeDuck("SET delete_mode = 'cow'")
    // back to default: the next DELETE is a COW rewrite commit
    e.executeDuck("DELETE FROM morsql WHERE id = 6")
    val c2 = e.lastCommit("morsql")
    assert(c2.written >= 1, s"expected COW rewrite, got $c2")
    assert(e.executeDuck("SELECT count(*) AS n FROM morsql")
      .collect().head.getLong(0) == 14L)
    // SET update_mode='mor': UPDATE appends updated rows + positions,
    // reusing every base data file
    val before = SnapshotOps.snapshotFiles(dir,
      SnapshotOps.currentVersion(dir)).toSet
    e.executeDuck("SET update_mode = 'mor'")
    try {
      e.executeDuck("UPDATE morsql SET v = 0 WHERE id >= 18")
      val cu = e.lastCommit("morsql")
      assert(cu.reused == before.size, s"MOR update rewrote data: $cu")
      assert(before.subsetOf(SnapshotOps.snapshotFiles(dir,
        cu.version).toSet))
      assert(e.executeDuck(
        "SELECT count(*) AS n FROM morsql WHERE v = 0")
        .collect().head.getLong(0) == 3L)
      assert(e.executeDuck("SELECT count(*) AS n FROM morsql")
        .collect().head.getLong(0) == 14L)
    } finally e.executeDuck("SET update_mode = 'cow'")
  }

  test("PRAGMA table_snapshots exposes the manifest chain as a table: " +
      "one row per version with files/rows/DV accounting") {
    val e = engine
    e.executeDuck("CREATE TABLE hist (id int, v int)")
    e.executeDuck("INSERT INTO hist VALUES " +
      (1 to 10).map(i => s"($i, $i)").mkString(", "))
    e.executeDuck("SET delete_mode = 'mor'")
    try e.executeDuck("DELETE FROM hist WHERE id <= 3")
    finally e.executeDuck("SET delete_mode = 'cow'")
    val rows = e.executeDuck("PRAGMA table_snapshots('hist')")
      .orderBy("version").collect()
    assert(rows.length == 2)
    val v1 = rows(0); val v2 = rows(1)
    assert(v1.getAs[Long]("version") == 1L &&
      v1.getAs[Long]("dv_rows") == 0L &&
      v1.getAs[Long]("visible_rows") == 10L)
    assert(v2.getAs[Long]("version") == 2L &&
      v2.getAs[Long]("dv_rows") == 3L &&
      v2.getAs[Long]("visible_rows") == 7L &&
      v2.getAs[Long]("data_rows") == 10L)
    assert(v2.getAs[Long]("committed_ms") > 0L)
    assert(v1.getAs[Long]("data_files") ==
      v2.getAs[Long]("data_files"), "MOR delete rewrote nothing")
    // DROP kills the snapshot binding: no ghost history
    e.executeDuck("DROP TABLE hist")
    assert(e.snapshotDir("hist").isEmpty)
    assertThrows[IllegalArgumentException] {
      e.executeDuck("PRAGMA table_snapshots('hist')")
    }
  }

  test("MERGE leaves non-SET columns of matched rows untouched") {
    val e = engine
    e.executeDuck("CREATE TABLE t2m (id int, a varchar, b varchar)")
    e.executeDuck("INSERT INTO t2m VALUES (1, 'keep', 'old')")
    e.executeDuck("CREATE TABLE d2m (k int, nb varchar)")
    e.executeDuck("INSERT INTO d2m VALUES (1, 'new')")
    e.executeDuck(
      """MERGE INTO t2m USING d2m ON t2m.id = d2m.k
        |WHEN MATCHED THEN UPDATE SET b = d2m.nb
        |WHEN NOT MATCHED THEN INSERT (id, a, b) VALUES (d2m.k, NULL, d2m.nb)"""
        .stripMargin)
    val r = e.executeDuck("SELECT a, b FROM t2m").collect()
    assert(r.length == 1 && r(0).getString(0) == "keep"
      && r(0).getString(1) == "new")
  }

  // ---- adversarial statement-lexing battery (r12): the front end
  // classifies and clause-splits over SqlNormalizer's token stream, so
  // keywords, semicolons and parens inside string literals or comments
  // can never change how a statement parses ----------------------------

  test("adversarial: ';' inside string literals and comments never " +
      "splits a script") {
    val e = engine
    val r = e.executeScript(
      "CREATE TABLE adv1 (id int, s varchar);" +
        "INSERT INTO adv1 VALUES (1, 'a;b');" +
        "SELECT 1 AS x -- note; DROP TABLE adv1\n;" +
        "SELECT s FROM adv1").collect()
    assert(r.length == 1 && r(0).getString(0) == "a;b")
    // the commented-out DROP never ran
    assert(e.executeDuck("SELECT count(*) AS n FROM adv1")
      .collect()(0).getLong(0) == 1L)
  }

  test("adversarial: UPDATE with ' WHERE '/' SET ' inside string " +
      "literals clause-splits correctly") {
    val e = engine
    e.executeDuck("CREATE TABLE adv2 (id int, tag varchar, v int)")
    e.executeDuck("INSERT INTO adv2 VALUES (1, 'x', 10)")
    e.executeDuck("INSERT INTO adv2 VALUES (2, ' SET v = 99 ', 20)")
    e.executeDuck("UPDATE adv2 SET tag = 'x WHERE y' WHERE id = 1")
    e.executeDuck("UPDATE adv2 SET v = 2 WHERE tag = ' SET v = 99 '")
    val r = e.executeDuck("SELECT id, tag, v FROM adv2 ORDER BY id")
      .collect()
    assert(r(0).getString(1) == "x WHERE y" && r(0).getInt(2) == 10)
    assert(r(1).getInt(2) == 2)
  }

  test("adversarial: comments inside DML (keyword-bearing, nested) " +
      "are stripped, not parsed") {
    val e = engine
    e.executeDuck("CREATE TABLE adv3 (id int, v int)")
    e.executeDuck("INSERT INTO adv3 VALUES (1, 10)")
    e.executeDuck("INSERT INTO adv3 VALUES (2, 20)")
    e.executeDuck("UPDATE /* WHERE not-a-clause */ adv3 " +
      "SET v = 3 /* SET trap */ WHERE id = 2 -- trailing WHERE")
    e.executeDuck(
      "DELETE FROM adv3 /* nested /* comment */ WHERE */ WHERE id = 1")
    val r = e.executeDuck("SELECT id, v FROM adv3").collect()
    assert(r.map(x => (x.getInt(0), x.getInt(1))).toSeq == Seq((2, 3)))
  }

  test("adversarial: DELETE predicate containing statement keywords " +
      "in a string deletes only true matches") {
    val e = engine
    e.executeDuck("CREATE TABLE adv4 (id int, tag varchar)")
    e.executeDuck("INSERT INTO adv4 VALUES (1, '; DROP TABLE adv4; WHERE')")
    e.executeDuck("INSERT INTO adv4 VALUES (2, 'keep')")
    e.executeDuck("DELETE FROM adv4 WHERE tag = '; DROP TABLE adv4; WHERE'")
    val r = e.executeDuck("SELECT id FROM adv4").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(2))
  }

  test("adversarial: MERGE with 'WHEN MATCHED' in a string inside ON " +
      "and nested parens in VALUES") {
    val e = engine
    e.executeDuck("CREATE TABLE adv5 (id int, v int, tag varchar)")
    e.executeDuck("INSERT INTO adv5 VALUES (1, 10, 'a')")
    e.executeDuck("CREATE TABLE adv5d (k int, nv int, nt varchar)")
    e.executeDuck("INSERT INTO adv5d VALUES (1, 11, 'upd')")
    e.executeDuck("INSERT INTO adv5d VALUES (2, 22, 'new')")
    e.executeDuck(
      """MERGE INTO adv5 USING adv5d
        |ON adv5.id = adv5d.k AND adv5d.nt <> 'WHEN MATCHED THEN x'
        |WHEN MATCHED THEN UPDATE SET v = adv5d.nv
        |WHEN NOT MATCHED THEN INSERT (id, v, tag)
        |VALUES (adv5d.k, (adv5d.nv + (1 - 1)), adv5d.nt)""".stripMargin)
    val r = e.executeDuck("SELECT id, v, tag FROM adv5 ORDER BY id")
      .collect()
    assert(r.map(x => (x.getInt(0), x.getInt(1), x.getString(2))).toSeq ==
      Seq((1, 11, "a"), (2, 22, "new")))
  }

  test("adversarial: INSERT VALUES carrying 'VALUES'/';'/parens in " +
      "strings lands verbatim") {
    val e = engine
    e.executeDuck("CREATE TABLE adv6 (id int, s varchar)")
    e.executeDuck("INSERT INTO adv6 VALUES (4, 'VALUES; WHERE (x))')")
    val r = e.executeDuck("SELECT s FROM adv6").collect()
    assert(r(0).getString(0) == "VALUES; WHERE (x))")
  }

  test("PRAGMA table_changes: per-version insert/delete rows, with " +
      "hard bounds validation") {
    val e = engine
    e.executeDuck("CREATE TABLE cf (id int, v int)")
    e.executeDuck("INSERT INTO cf VALUES " +
      (1 to 10).map(i => s"($i, $i)").mkString(", "))       // v1
    e.executeDuck("INSERT INTO cf VALUES (11, 11), (12, 12)") // v2
    e.executeDuck("SET delete_mode = 'mor'")
    try e.executeDuck("DELETE FROM cf WHERE id <= 3")         // v3
    finally e.executeDuck("SET delete_mode = 'cow'")
    e.executeDuck("UPDATE cf SET v = v + 100 WHERE id = 12")  // v4 (COW)
    val rows = e.executeDuck("PRAGMA table_changes('cf', 1, 4)")
      .collect().map(r => (r.getAs[Long]("_commit_version"),
        r.getAs[String]("change_type"), r.getAs[Int]("id")))
    def span(v: Long) = rows.filter(_._1 == v)
    assert(span(1).length == 10 && span(1).forall(_._2 == "insert"))
    assert(span(2).map(x => (x._2, x._3)).sorted.toSeq ==
      Seq(("insert", 11), ("insert", 12)))
    assert(span(3).map(x => (x._2, x._3)).sorted.toSeq ==
      Seq(("delete", 1), ("delete", 2), ("delete", 3)))
    // the COW update is a delete+insert pair for the same id
    assert(span(4).map(x => (x._2, x._3)).sorted.toSeq ==
      Seq(("delete", 12), ("insert", 12)))
    // a sub-span reads only its versions
    assert(e.executeDuck("PRAGMA table_changes('cf', 3, 3)")
      .collect().length == 3)
    // bounds: past the current version must fail loudly, not return
    // a silent partial feed
    val ex = intercept[IllegalArgumentException](
      e.executeDuck("PRAGMA table_changes('cf', 1, 99)"))
    assert(ex.getMessage.contains("outside committed versions"))
    // no snapshot history (never touched by DML) is a clear error
    e.executeDuck("CREATE TABLE cf_lazy AS SELECT 1 AS x")
    val ex2 = intercept[IllegalArgumentException](
      e.executeDuck("PRAGMA table_changes('cf_lazy', 1, 1)"))
    assert(ex2.getMessage.contains("no committed snapshot history"))
    e.close()
  }

  test("PRAGMA restore_table rewinds content to a version as a new " +
      "commit; history and later reads stay consistent") {
    val e = engine
    e.executeDuck("CREATE TABLE rst (id int, v int)")
    e.executeDuck("INSERT INTO rst VALUES " +
      (1 to 8).map(i => s"($i, $i)").mkString(", "))          // v1
    e.executeDuck("UPDATE rst SET v = v + 100 WHERE id <= 4") // v2
    e.executeDuck("DELETE FROM rst WHERE id >= 7")            // v3
    e.executeDuck("PRAGMA restore_table('rst', 1)")           // v4 = v1
    val r = e.executeDuck("SELECT id, v FROM rst ORDER BY id").collect()
    assert(r.map(x => (x.getInt(0), x.getInt(1))).toSeq ==
      (1 to 8).map(i => (i, i)))
    val versions = e.executeDuck("PRAGMA table_snapshots('rst')")
      .collect().length
    assert(versions == 4, "restore is an auditable commit, not a rewind")
    // the restore span streams as deltas: table_changes(4,4) holds
    // the rows the rollback resurrected/retracted
    val span4 = e.executeDuck("PRAGMA table_changes('rst', 4, 4)")
      .collect().map(x => (x.getAs[String]("change_type"),
        x.getAs[Int]("id"), x.getAs[Int]("v"))).sorted.toSeq
    assert(span4 == Seq(("delete", 1, 101), ("delete", 2, 102),
      ("delete", 3, 103), ("delete", 4, 104),
      ("insert", 1, 1), ("insert", 2, 2), ("insert", 3, 3),
      ("insert", 4, 4), ("insert", 7, 7), ("insert", 8, 8)))
    // DML after a restore builds on the restored content
    e.executeDuck("DELETE FROM rst WHERE id = 1")             // v5
    assert(e.executeDuck("SELECT count(*) AS n FROM rst")
      .collect()(0).getLong(0) == 7L)
    val ex = intercept[IllegalArgumentException](
      e.executeDuck("PRAGMA restore_table('rst', 99)"))
    assert(ex.getMessage.contains("outside committed versions"))
    e.close()
  }

  test("SET delete_mode='eq' routes DELETE through the equality-delete " +
      "commit: literal keys only, no data file scanned, re-inserts " +
      "survive") {
    val e = engine
    e.executeDuck("CREATE TABLE eqd (id int, seg varchar)")
    e.executeDuck(
      "INSERT INTO eqd VALUES (1,'a'), (2,'b'), (3,'a,b'), (4,'c')")
    e.executeDuck("SET delete_mode = 'eq'")
    try {
      val before = e.snapshotDir("eqd")
        .map(graft.operators.SnapshotOps.snapshotFiles(_, 1)).get
      e.executeDuck("DELETE FROM eqd WHERE id IN (2, 4)")       // v2
      // zero data files touched: v2's file list IS v1's
      val after = e.snapshotDir("eqd")
        .map(graft.operators.SnapshotOps.snapshotFiles(_, 2)).get
      assert(after == before)
      assert(e.executeDuck("SELECT id FROM eqd ORDER BY id")
        .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
      // a string literal key WITH a comma (the lexer, not a regex,
      // splits the IN list)
      e.executeDuck("DELETE FROM eqd WHERE seg IN ('a,b')")     // v3
      assert(e.executeDuck("SELECT id FROM eqd").collect()
        .map(_.getInt(0)).toSeq == Seq(1))
      // single-key `=` shape; re-insert of a deleted key survives
      e.executeDuck("DELETE FROM eqd WHERE id = 1")             // v4
      e.executeDuck("INSERT INTO eqd VALUES (1, 'reborn')")     // v5
      val r = e.executeDuck("SELECT id, seg FROM eqd").collect()
      assert(r.map(x => (x.getInt(0), x.getString(1))).toSeq ==
        Seq((1, "reborn")))
      // a non-literal predicate must fail loudly with the contract,
      // not silently scan
      val ex = intercept[IllegalArgumentException](
        e.executeDuck("DELETE FROM eqd WHERE id < 10"))
      assert(ex.getMessage.contains("delete_mode='eq'"))
    } finally e.executeDuck("SET delete_mode = 'cow'")
    e.close()
  }

  test("PRAGMA expire_snapshots drops all but the last N versions and " +
      "GCs their orphaned files; PRAGMA vacuum is orphan-only") {
    val e = engine
    e.executeDuck("CREATE TABLE ret (id int, v int)")
    e.executeDuck("INSERT INTO ret VALUES (1, 10), (2, 20)")   // v1
    e.executeDuck("INSERT INTO ret VALUES (3, 30)")            // v2
    e.executeDuck("UPDATE ret SET v = v + 1 WHERE id = 1")     // v3
    e.executeDuck("INSERT INTO ret VALUES (4, 40)")            // v4
    // orphan-only vacuum first: all four versions survive
    val vac = e.executeDuck("PRAGMA vacuum('ret')").collect()(0)
    assert(vac.getLong(0) == 0, "vacuum drops no manifests")
    assert(e.executeDuck("PRAGMA table_snapshots('ret')").count() == 4)
    // expire: keep the last 2
    val exp = e.executeDuck("PRAGMA expire_snapshots('ret', 2)")
      .collect()(0)
    assert(exp.getLong(0) == 2, "v1 and v2 manifests dropped")
    assert(e.executeDuck("PRAGMA table_snapshots('ret')").count() == 2)
    // current content untouched; surviving span still readable
    assert(e.executeDuck("SELECT sum(v) AS s FROM ret")
      .collect()(0).getLong(0) == 101L)
    assert(e.executeDuck("PRAGMA table_changes('ret', 4, 4)")
      .count() == 1)
    // expire is idempotent at the same retention
    assert(e.executeDuck("PRAGMA expire_snapshots('ret', 2)")
      .collect()(0).getLong(0) == 0)
    // past-the-horizon operations fail VALIDATED, not with a raw
    // NoSuchFileException: a change span needing an expired manifest
    // (even v3's changes need v2's), and a restore to an expired
    // version
    val exSpan = intercept[IllegalArgumentException](
      e.executeDuck("PRAGMA table_changes('ret', 3, 4)"))
    assert(exSpan.getMessage.contains("expired"))
    val exRestore = intercept[IllegalArgumentException](
      e.executeDuck("PRAGMA restore_table('ret', 1)"))
    assert(exRestore.getMessage.contains("expired"))
    // a table with no snapshot history is a clear error
    e.executeDuck("CREATE TABLE ret_lazy AS SELECT 1 AS x")
    val ex = intercept[IllegalArgumentException](
      e.executeDuck("PRAGMA expire_snapshots('ret_lazy', 1)"))
    assert(ex.getMessage.contains("no committed snapshot history"))
    e.close()
  }

  test("PRAGMA table_changes spanning a RENAME COLUMN presents every " +
      "span under the end version's shape; the rename itself is a " +
      "zero-change version") {
    val e = engine
    e.executeDuck("CREATE TABLE cfev (id int, bal double)")
    e.executeDuck("INSERT INTO cfev VALUES (1, 10.0), (2, 20.0)") // v1
    e.executeDuck("ALTER TABLE cfev RENAME COLUMN bal TO balance") // v2
    e.executeDuck("INSERT INTO cfev VALUES (3, 30.0)")             // v3
    val feed = e.executeDuck("PRAGMA table_changes('cfev', 1, 3)")
    assert(feed.columns.contains("balance") &&
      !feed.columns.contains("bal"),
      s"feed must present the end version's shape: ${feed.columns.toSeq}")
    val rows = feed.collect().map(r => (r.getAs[Long]("_commit_version"),
      r.getAs[String]("change_type"), r.getAs[Int]("id")))
    assert(rows.count(_._1 == 1L) == 2 && rows.count(_._1 == 3L) == 1)
    assert(rows.forall(_._2 == "insert"))
    assert(!rows.exists(_._1 == 2L), "a rename commit changes no rows")
    e.close()
  }

  test("PRAGMA table_changes on a 100-version span: bounded plan depth " +
      "(16-version groups materialize) and per-commit timestamps") {
    val e = engine
    e.executeDuck("CREATE TABLE longcf (id int, v int)")
    (1 to 100).foreach(i =>
      e.executeDuck(s"INSERT INTO longcf VALUES ($i, ${i * 10})"))
    val feed = e.executeDuck("PRAGMA table_changes('longcf', 1, 100)")
    // plan-depth bound: the 100 per-version EXCEPT-ALL diff subplans
    // must NOT union into one analyzed tree — 16-version groups
    // materialize during construction, then the FINAL feed
    // materializes once and the per-group intermediates release
    // eagerly (r14): the returned plan is exactly ONE LogicalRDD and
    // pins only feed-sized storage
    val rdds = feed.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.size
    assert(rdds == 1, s"expected the one materialized feed, got $rdds")
    val rows = feed.collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getAs[String]("change_type") == "insert"))
    // every row stamped with its own commit's wall-clock, monotone in
    // version
    val ts = rows.map(r => (r.getAs[Long]("_commit_version"),
      r.getAs[Long]("_commit_timestamp"))).sortBy(_._1)
    assert(ts.forall(_._2 > 0))
    ts.map(_._2).sliding(2).foreach {
      case Array(a, b) => assert(a <= b)
      case _ =>
    }
    // a short span keeps the single lazy plan (no materialization)
    val short = e.executeDuck("PRAGMA table_changes('longcf', 95, 100)")
    assert(short.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.isEmpty)
    assert(short.count() == 6)
    e.close()
  }

  // ---- materialization-dir lifetime (r12): files must outlive every
  // statement that can lazily derive from them; reclamation happens
  // only at close() ------------------------------------------------------

  test("DROP TABLE keeps snapshot files alive for lazy bindings " +
      "derived from the dropped table") {
    val e = engine
    e.executeDuck("CREATE TABLE src6 (id int, v int)")
    e.executeDuck("INSERT INTO src6 VALUES (1, 10), (2, 20)")
    val dir = e.snapshotDir("src6").get
    // CTAS registers a LAZY frame whose plan reads src6's snapshot
    // parquet; DROP must not delete those files out from under it
    e.executeDuck("CREATE TABLE drv6 AS SELECT id, v * 2 AS w FROM src6")
    e.executeDuck("DROP TABLE src6")
    assert(e.snapshotDir("src6").isEmpty, "history must die with DROP")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "DROP retired the dir; files survive for the derived binding")
    val r = e.executeDuck("SELECT w FROM drv6 ORDER BY w").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(20, 40))
    e.close()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)),
      "close() reclaims the retired dir")
  }

  test("close() unbinds snapshot-backed tables; lazy tables stay " +
      "usable") {
    val e = engine
    e.executeDuck("CREATE TABLE snap7 (id int)")
    e.executeDuck("INSERT INTO snap7 VALUES (1)") // DML → snapshot-backed
    e.register("lazy7", spark.range(3).toDF("id")) // never touched by DML
    val dir = e.snapshotDir("snap7").get
    e.close()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    // snapshot-backed: clear resolution error, not a
    // FileNotFoundException from a scan over reclaimed files
    val ex = intercept[Exception](
      e.executeDuck("SELECT * FROM snap7").collect())
    assert(ex.isInstanceOf[org.apache.spark.sql.AnalysisException],
      s"expected a resolution error, got $ex")
    // lazily-bound tables are untouched by close()
    assert(e.executeDuck("SELECT count(*) AS n FROM lazy7")
      .collect()(0).getLong(0) == 3L)
  }

  // --- SQL-scan manifest pruning (r14) ------------------------------

  /** Three banded inserts under auto_stats → three one-file commits
    * with disjoint string-key bounds. */
  private def prunedFixture(e: Engine): Unit = {
    e.executeDuck("SET auto_stats = true")
    e.executeDuck("CREATE TABLE pr (k varchar, v int)")
    Seq("a" -> 0, "m" -> 100, "z" -> 200).foreach { case (p, base) =>
      e.executeDuck(s"INSERT INTO pr SELECT '$p-' || " +
        s"lpad(CAST(id + $base AS STRING), 4, '0'), CAST(id + $base AS INT) " +
        "FROM range(0, 50)")
    }
  }

  test("auto_stats off by default: commits record no column bounds, " +
      "SELECTs never consult the manifest") {
    val e = engine
    e.executeDuck("CREATE TABLE nost (k varchar, v int)")
    e.executeDuck("INSERT INTO nost VALUES ('a', 1)")
    val dir = e.snapshotDir("nost").get
    val entries = graft.operators.SnapshotOps.snapshotEntries(dir, 1)
    assert(entries.forall(en =>
      en.bounds.keySet.forall(_.startsWith("_"))),
      s"no data-column bounds expected: $entries")
    e.executeDuck("SELECT v AS v FROM nost WHERE k = 'a'").collect()
    // with no bounds nothing is skipped; the decision is still sound
    assert(e.lastPrune.get("nost").forall { case (kept, total) =>
      kept == total })
    e.close()
  }

  test("plain SELECT WHERE prunes files and matches the unpruned " +
      "result: BETWEEN, one-sided, LIKE-prefix, IN, reversed literal") {
    val e = engine
    prunedFixture(e)
    def q(where: String): Seq[Int] =
      e.executeDuck(s"SELECT v AS v FROM pr WHERE $where ORDER BY v")
        .collect().map(_.getInt(0)).toSeq
    def prunedNow(): Boolean = {
      val (kept, total) = e.lastPrune("pr"); kept < total
    }
    assert(q("k BETWEEN 'm-0100' AND 'm-0120'") == (100 to 120) &&
      prunedNow(), "BETWEEN must prune")
    assert(q("k >= 'z-'") == (200 until 250) && prunedNow(),
      "one-sided >= must prune")
    assert(q("k LIKE 'a-%'") == (0 until 50) && prunedNow(),
      "LIKE prefix must prune")
    assert(q("k IN ('m-0100', 'm-0105')") == Seq(100, 105) &&
      prunedNow(), "IN list must prune")
    assert(q("'m-0110' <= k AND k <= 'm-0115'") == (110 to 115) &&
      prunedNow(), "reversed literal must prune")
    // alias-qualified column prunes too
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM pr p WHERE p.k LIKE 'z-%'")
      .collect()(0).getLong(0) == 50L && prunedNow())
    e.close()
  }

  test("same-column OR / IN pruning (r15): interval unions and exact " +
      "IN points skip the untouched middle band") {
    val e = engine
    prunedFixture(e)
    def q(where: String): Seq[Int] =
      e.executeDuck(s"SELECT v AS v FROM pr WHERE $where ORDER BY v")
        .collect().map(_.getInt(0)).toSeq
    def pruned(): (Int, Int) = e.lastPrune("pr")
    // OR of BETWEENs on the two edge bands: middle band never opens
    assert(q("k BETWEEN 'a-0000' AND 'a-0005' OR " +
      "k BETWEEN 'z-0200' AND 'z-0205'") ==
      ((0 to 5) ++ (200 to 205)) && pruned()._1 < pruned()._2)
    // the IN dual as exact points (not one envelope): a-edge +
    // z-edge IN list must NOT keep the middle band
    assert(q("k IN ('a-0001', 'z-0201')") == Seq(1, 201) &&
      pruned()._1 < pruned()._2)
    // parenthesized OR conjunct composes with a plain conjunct
    assert(q("(k = 'a-0002' OR k = 'm-0102') AND v < 150") ==
      Seq(2, 102) && pruned()._1 < pruned()._2)
    // OR through the DML discovery path: only the named bands rewrite
    e.executeDuck(
      "DELETE FROM pr WHERE k = 'a-0003' OR k = 'z-0203'")
    assert(e.executeDuck("SELECT count(*) AS n FROM pr")
      .collect()(0).getLong(0) == 148L)
    e.close()
  }

  test("pruning is conservative: ORs, functions, joins and subqueries " +
      "never translate — results stay exact") {
    val e = engine
    prunedFixture(e)
    e.lastPrune.clear()
    // SAME-column OR prunes with the interval union (r15): both edge
    // bands open, the middle band skips
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM pr WHERE k = 'a-0000' OR k = 'z-0249'")
      .collect()(0).getLong(0) == 2L)
    assert(e.lastPrune("pr")._1 < e.lastPrune("pr")._2,
      s"same-column OR must skip files: ${e.lastPrune("pr")}")
    // ...and mixed-COLUMN OR still extracts nothing
    e.lastPrune.clear()
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM pr WHERE k = 'a-0000' OR v = 249")
      .collect()(0).getLong(0) == 2L)
    assert(!e.lastPrune.contains("pr"), "mixed-column OR must not prune")
    // function over the column: that conjunct is dropped; the plain
    // conjunct still prunes and the function filter still applies
    assert(e.executeDuck("SELECT count(*) AS n FROM pr " +
      "WHERE upper(k) = 'M-0100' AND k >= 'm-'")
      .collect()(0).getLong(0) == 1L)
    assert(e.lastPrune("pr")._1 < e.lastPrune("pr")._2)
    // self-join: two tables in scope → disqualified
    e.lastPrune.clear()
    assert(e.executeDuck("SELECT count(*) AS n FROM pr x " +
      "JOIN pr y ON x.k = y.k WHERE x.k LIKE 'a-%'")
      .collect()(0).getLong(0) == 50L)
    assert(!e.lastPrune.contains("pr"), "JOIN must not prune")
    // subquery: two SELECTs → disqualified
    assert(e.executeDuck("SELECT count(*) AS n FROM pr " +
      "WHERE k = (SELECT max(k) FROM pr)")
      .collect()(0).getLong(0) == 1L)
    assert(!e.lastPrune.contains("pr"), "subquery must not prune")
    // mid-pattern wildcard is not a prefix — conjunct dropped
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM pr WHERE k LIKE 'a%0'")
      .collect()(0).getLong(0) == 5L)
    assert(!e.lastPrune.contains("pr"))
    // AND/OR precedence: `a OR b AND c` is `a OR (b AND c)` —
    // splitting at that AND would prune away rows satisfying only
    // `a`. A mixed-operator WHERE must extract NOTHING.
    assert(e.executeDuck("SELECT count(*) AS n FROM pr " +
      "WHERE k = 'a-0000' OR v = 101 AND k = 'm-0101'")
      .collect()(0).getLong(0) == 2L)
    assert(!e.lastPrune.contains("pr"), "mixed OR/AND must not prune")
    // …and through the DML discovery path too (a wrong prune there
    // is lost writes, not just a wrong read)
    e.executeDuck("DELETE FROM pr " +
      "WHERE k = 'a-0001' OR v = 102 AND k = 'm-0102'")
    assert(e.executeDuck("SELECT count(*) AS n FROM pr")
      .collect()(0).getLong(0) == 148L, "both OR arms must delete")
    // parenthesized ORs are depth>0: the other conjunct still prunes
    assert(e.executeDuck("SELECT count(*) AS n FROM pr " +
      "WHERE (k = 'm-0100' OR k = 'm-0103') AND k >= 'm-'")
      .collect()(0).getLong(0) == 2L)
    assert(e.lastPrune("pr")._1 < e.lastPrune("pr")._2)
    e.close()
  }

  test("float/double probes round through the column type before " +
      "bound comparison; inequalities widen one ulp outward (r15)") {
    val e = engine
    e.executeDuck("SET auto_stats = true")
    e.executeDuck("CREATE TABLE fp (d double, f float, v int)")
    // three one-file commits, each a constant band so stored bounds
    // are the shortest-round-trip decimal of the binary value
    Seq(0.1, 0.3, 0.9).foreach { base =>
      e.executeDuck(s"INSERT INTO fp SELECT CAST($base AS DOUBLE), " +
        s"CAST($base AS FLOAT), CAST(id AS INT) FROM range(0, 10)")
    }
    def n(where: String): Long =
      e.executeDuck(s"SELECT count(*) AS n FROM fp WHERE $where")
        .collect()(0).getLong(0)
    // Spark casts the 17-digit literal to 0.3d before comparing; the
    // 0.3-band's stored bound IS 0.3 — a verbatim-decimal probe
    // (lo = 0.30000000000000001 > 0.3) would unsoundly skip the file
    assert(n("d = 0.30000000000000001") == 10L)
    assert(n("d >= 0.30000000000000001") == 20L)
    // float: 0.3f as double is 0.30000001192…, so the band matches
    // >= 0.30000001 even though its stored bound 0.3 sits BELOW the
    // literal — the probe must round through float (one ulp down)
    assert(n("f >= 0.30000001") == 20L)
    // rounding must not cost real pruning: a clean mid-band probe
    // still skips files
    assert(n("d < 0.5") == 20L &&
      e.lastPrune("fp")._1 < e.lastPrune("fp")._2)
    e.close()
  }

  test("backslash string literals never prune — Spark's parser " +
      "processes escapes, so the residual WHERE compares different " +
      "bytes than the verbatim literal (r15)") {
    val e = engine
    e.executeDuck("SET auto_stats = true")
    e.executeDuck("CREATE TABLE bs (k varchar, v int)")
    // SQL text 'a\\-0001' — Spark parses to a\-0001; a verbatim probe
    // (a\\… > a\-…) would skip BOTH files and lose the row
    e.executeDuck("INSERT INTO bs VALUES ('a\\\\-0001', 1)")
    e.executeDuck("INSERT INTO bs VALUES ('z-0001', 2)")
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM bs WHERE k = 'a\\\\-0001'")
      .collect()(0).getLong(0) == 1L)
    e.close()
  }

  test("close() restores derived Spark confs: a closed Engine's SET " +
      "threads must not change later Engines on the session (r15)") {
    val e = engine
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    e.executeDuck("SET threads = 7")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    e.close()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prior)
  }

  test("SQL hidden partitioning (r15): CREATE … PARTITIONED BY " +
      "clusters INSERTs by transform value and prunes SELECTs " +
      "structurally — no auto_stats needed; ALTER SET PARTITION SPEC " +
      "evolves for new files only") {
    val e = engine
    e.executeDuck("CREATE TABLE hp (ts TIMESTAMP, id INTEGER, " +
      "name VARCHAR) PARTITIONED BY (days(ts), bucket(8, id))")
    e.executeDuck(
      """INSERT INTO hp SELECT
        |  CASE WHEN id % 3 = 0 THEN TIMESTAMP '2024-03-01 10:00:00'
        |       WHEN id % 3 = 1 THEN TIMESTAMP '2024-03-02 10:00:00'
        |       ELSE TIMESTAMP '2024-03-03 10:00:00' END,
        |  CAST(id AS INT), 'n' || CAST(id AS STRING)
        |FROM range(0, 300)""".stripMargin)
    val dir = e.snapshotDir("hp").get
    import graft.operators.SnapshotOps
    // version 1 = the metadata-only spec seed; version 2 = the data
    assert(SnapshotOps.partitionSpec(dir, 1).map(_.toString) ==
      Seq("days(ts)", "bucket(8,id)"))
    val entries = SnapshotOps.snapshotEntries(dir, 2)
    assert(entries.size >= 3, s"partitionBy must split: ${entries.size}")
    assert(entries.forall(en => en.bounds.contains("_p.days(ts)") &&
      en.bounds.contains("_p.bucket(8,id)")))
    // one-file-one-tuple: every derived bound is a point
    assert(entries.forall(en =>
      en.bounds("_p.days(ts)")._1 == en.bounds("_p.days(ts)")._2 &&
      en.bounds("_p.bucket(8,id)")._1 == en.bounds("_p.bucket(8,id)")._2))
    def n(where: String): Long = {
      e.lastPrune.clear()
      e.executeDuck(s"SELECT count(*) AS n FROM hp WHERE $where")
        .collect()(0).getLong(0)
    }
    // a one-day range prunes through days(ts) with NO column stats
    assert(n("ts >= TIMESTAMP '2024-03-02 00:00:00' AND " +
      "ts < TIMESTAMP '2024-03-03 00:00:00'") == 100L)
    assert(e.lastPrune("hp")._1 < e.lastPrune("hp")._2,
      s"days transform must prune: ${e.lastPrune("hp")}")
    // a point probe prunes through bucket(8,id)
    assert(n("id = 42") == 1L)
    assert(e.lastPrune("hp")._1 < e.lastPrune("hp")._2,
      s"bucket transform must prune: ${e.lastPrune("hp")}")
    // PRAGMA table_partitions: metadata-only value inventory — 3 days
    // recorded, all point values, per-transform rows sum to the table
    val parts = e.executeDuck("PRAGMA table_partitions('hp')").collect()
    assert(parts.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("bucket(8,id)", "days(ts)"))
    val days = parts.filter(_.getString(0) == "days(ts)")
    assert(days.length == 3 && days.map(_.getLong(3)).sum == 300L,
      s"3 day values summing to 300 rows: ${days.mkString(";")}")
    assert(parts.forall(r => !r.getString(1).contains("..")),
      "one-file-one-tuple: every recorded value is a point")
    // evolution: days only — new files carry no bucket key, so the
    // point probe keeps them (absence never skips), results stay exact
    e.executeDuck("ALTER TABLE hp SET PARTITION SPEC (days(ts))")
    e.executeDuck("INSERT INTO hp VALUES " +
      "(TIMESTAMP '2024-03-04 09:00:00', 42, 'dup')")
    assert(n("id = 42") == 2L, "evolved-spec files must not be skipped")
    assert(n("ts >= TIMESTAMP '2024-03-04 00:00:00'") == 1L)
    assert(e.lastPrune("hp")._1 < e.lastPrune("hp")._2)
    e.close()
  }

  test("warehouse persistence (r15): tables survive close(); a new " +
      "Engine re-attaches with content, history, time travel and " +
      "further commits intact; DROP is destructive") {
    val wh = Files.createTempDirectory("graft_wh_spec").toString
    val e1 = engine
    e1.executeDuck(s"SET warehouse = '$wh'")
    e1.executeDuck("CREATE TABLE wt (id int, v varchar)")
    e1.executeDuck("INSERT INTO wt VALUES (1, 'a'), (2, 'b')")  // v1
    e1.executeDuck("UPDATE wt SET v = 'z' WHERE id = 2")        // v2
    e1.close()
    assert(new java.io.File(s"$wh/wt/manifests").isDirectory,
      "warehouse table must survive close()")
    val e2 = engine
    // a fresh engine knows nothing until the warehouse is attached
    e2.executeDuck(s"SET warehouse = '$wh'")
    assert(e2.executeDuck("SELECT v FROM wt ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("a", "z"))
    // history + time travel across the session boundary
    assert(e2.executeDuck(
      "SELECT v AS v FROM wt VERSION AS OF 1 ORDER BY v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
    // commits continue on the same chain
    e2.executeDuck("INSERT INTO wt VALUES (3, 'c')")            // v3
    assert(e2.executeDuck("SELECT count(*) AS n FROM wt")
      .collect()(0).getLong(0) == 3L)
    // plain re-CREATE must not shadow durable data; IF NOT EXISTS
    // re-binds it
    val ex = intercept[IllegalArgumentException](
      e2.executeDuck("CREATE TABLE wt (id int, v varchar)"))
    assert(ex.getMessage.contains("already exists"))
    e2.executeDuck("CREATE TABLE IF NOT EXISTS wt (id int, v varchar)")
    assert(e2.executeDuck("SELECT count(*) AS n FROM wt")
      .collect()(0).getLong(0) == 3L)
    // DROP deletes the durable dir; the name is then free again
    e2.executeDuck("DROP TABLE wt")
    assert(!new java.io.File(s"$wh/wt").exists())
    e2.executeDuck("CREATE TABLE wt (id int, v varchar)")
    e2.executeDuck("INSERT INTO wt VALUES (9, 'fresh')")
    assert(e2.executeDuck("SELECT count(*) AS n FROM wt")
      .collect()(0).getLong(0) == 1L)
    e2.close()
  }

  test("time-based retention (r15): expire_snapshots older_than " +
      "TIMESTAMP drops pre-horizon versions on the AS-OF clock; " +
      "time travel past the horizon fails loudly") {
    val e = engine
    e.executeDuck("CREATE TABLE tr (id int)")
    e.executeDuck("INSERT INTO tr VALUES (1)")                   // v1
    e.executeDuck("INSERT INTO tr VALUES (2)")                   // v2
    Thread.sleep(60)
    val mid = java.time.LocalDateTime.now()
    Thread.sleep(60)
    e.executeDuck("INSERT INTO tr VALUES (3)")                   // v3
    e.executeDuck("INSERT INTO tr VALUES (4)")                   // v4
    val midS = mid.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val r = e.executeDuck(
      s"PRAGMA expire_snapshots('tr', older_than => TIMESTAMP '$midS')")
      .collect()(0)
    assert(r.getLong(0) == 2L, s"v1+v2 must expire: $r")
    // current content and post-horizon history intact
    assert(e.executeDuck("SELECT count(*) AS n FROM tr")
      .collect()(0).getLong(0) == 4L)
    assert(e.executeDuck("SELECT count(*) AS n FROM tr VERSION AS OF 3")
      .collect()(0).getLong(0) == 3L)
    // past the horizon: fail loudly, never silently re-resolve
    intercept[Exception](e.executeDuck(
      "SELECT count(*) AS n FROM tr VERSION AS OF 1").collect())
    intercept[Exception](e.executeDuck(
      s"SELECT count(*) AS n FROM tr TIMESTAMP AS OF '2000-01-01 00:00:00'")
      .collect())
    e.close()
  }

  test("DML pruning: UPDATE/DELETE WHERE discover touched files from " +
      "manifest bounds — untouched bands never scanned, results exact") {
    val e = engine
    prunedFixture(e)
    // banded UPDATE: only the m-band file may hold matches
    e.executeDuck(
      "UPDATE pr SET v = v + 1000 WHERE k BETWEEN 'm-0100' AND 'm-0104'")
    val (kept, total) = e.lastPrune("pr")
    assert(kept < total, s"UPDATE must prune discovery: $kept/$total")
    // file-granular COW: the a- and z-band files carried forward
    assert(e.lastCommit("pr").reused >= 2,
      s"expected >=2 reused files: ${e.lastCommit("pr")}")
    assert(e.executeDuck(
      "SELECT v AS v FROM pr WHERE k BETWEEN 'm-0100' AND 'm-0105'")
      .collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(105, 1100, 1101, 1102, 1103, 1104))
    // banded DELETE: prefix conjunct prunes discovery the same way
    e.executeDuck("DELETE FROM pr WHERE k LIKE 'z-%'")
    assert(e.lastPrune("pr")._1 < e.lastPrune("pr")._2)
    assert(e.executeDuck("SELECT count(*) AS n FROM pr")
      .collect()(0).getLong(0) == 100L)
    // a WHERE the grammar can't translate (OR, function) still
    // executes correctly — it just doesn't prune discovery
    e.executeDuck("DELETE FROM pr WHERE length(k) = 7 OR v > 5000")
    assert(e.executeDuck("SELECT count(*) AS n FROM pr")
      .collect()(0).getLong(0) == 100L, "nothing matched; nothing lost")
    e.executeDuck("DELETE FROM pr WHERE length(k) = 6 OR v > 5000")
    assert(e.executeDuck("SELECT count(*) AS n FROM pr")
      .collect()(0).getLong(0) == 0L, "every key is 6 chars")
    e.close()
  }

  test("ALTER TABLE WRITE ORDERED BY: appends land key-banded with " +
      "sort-key stats, plain SELECTs prune — no auto_stats needed") {
    val e = engine
    e.executeDuck("CREATE TABLE wo (k varchar, v int)")
    e.executeDuck("ALTER TABLE wo WRITE ORDERED BY k INTO 6 FILES")
    // one UNSORTED insert: layout, not source order, decides banding
    e.executeDuck("INSERT INTO wo SELECT " +
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'm' " +
      "ELSE 'z' END || '-' || lpad(CAST(id AS STRING), 4, '0'), " +
      "CAST(id AS INT) FROM range(0, 300)")
    val dir = e.snapshotDir("wo").get
    val entries = graft.operators.SnapshotOps.snapshotEntries(dir, 1)
    assert(entries.size >= 4, s"expected banded files: ${entries.size}")
    assert(entries.forall(_.bounds.contains("k")),
      "sort-key stats must be recorded without auto_stats")
    assert(e.executeDuck(
      "SELECT count(k) AS n FROM wo WHERE k LIKE 'm-%'")
      .collect()(0).getLong(0) == 100L)
    assert(e.lastPrune("wo")._1 < e.lastPrune("wo")._2,
      s"banded layout must prune: ${e.lastPrune}")
    // unknown sort column fails loudly at declaration time
    intercept[IllegalArgumentException](
      e.executeDuck("ALTER TABLE wo WRITE ORDERED BY nope"))
    e.close()
  }

  test("SELECT count(*) answers from manifest metadata; declines to " +
      "scan when the metadata answer would be inexact") {
    val e = engine
    e.executeDuck("CREATE TABLE mc (id int)")
    e.executeDuck("INSERT INTO mc SELECT CAST(id AS INT) FROM range(0, 70)")
    assert(e.executeDuck("SELECT count(*) AS n FROM mc")
      .collect()(0).getLong(0) == 70L)
    assert(e.lastMetaCount.get("mc").contains(70L),
      "plain count(*) must be metadata-served")
    // unaliased form keeps Spark's column name
    val un = e.executeDuck("SELECT count(*) FROM mc")
    assert(un.columns.toSeq == Seq("count(1)"))
    assert(un.collect()(0).getLong(0) == 70L)
    // a WHERE breaks the shape: scan path, same answer
    e.lastMetaCount.clear()
    assert(e.executeDuck("SELECT count(*) AS n FROM mc WHERE id < 10")
      .collect()(0).getLong(0) == 10L)
    assert(!e.lastMetaCount.contains("mc"))
    // MoR delete subtracts DV rows from the metadata answer exactly
    e.executeDuck("SET delete_mode = 'mor'")
    e.executeDuck("DELETE FROM mc WHERE id >= 60")
    assert(e.executeDuck("SELECT count(*) AS n FROM mc")
      .collect()(0).getLong(0) == 60L)
    assert(e.lastMetaCount.get("mc").contains(60L),
      "DV-subtracted count is still metadata-exact")
    e.close()
  }

  test("MoR DML pruning: delete_mode/update_mode 'mor' discover " +
      "matches from manifest bounds too; results exact") {
    val e = engine
    prunedFixture(e)
    e.executeDuck("SET delete_mode = 'mor'")
    e.executeDuck("DELETE FROM pr WHERE k BETWEEN 'm-0100' AND 'm-0104'")
    assert(e.lastPrune("pr")._1 < e.lastPrune("pr")._2,
      "MoR delete must prune discovery")
    assert(e.lastCommit("pr").written == 0, "MoR: no data file written")
    assert(e.executeDuck("SELECT count(*) AS n FROM pr")
      .collect()(0).getLong(0) == 145L)
    e.executeDuck("SET update_mode = 'mor'")
    e.executeDuck("UPDATE pr SET v = v + 1000 WHERE k = 'z-0200'")
    assert(e.lastPrune("pr")._1 < e.lastPrune("pr")._2,
      "MoR update must prune discovery")
    assert(e.executeDuck("SELECT v AS v FROM pr WHERE k = 'z-0200'")
      .collect().map(_.getInt(0)).toSeq == Seq(1200))
    // a banded probe that provably matches nothing: skipped commit,
    // no version burned, content intact
    val vBefore = graft.operators.SnapshotOps
      .currentVersion(e.snapshotDir("pr").get)
    e.executeDuck("DELETE FROM pr WHERE k BETWEEN 'q-' AND 'r-'")
    assert(graft.operators.SnapshotOps
      .currentVersion(e.snapshotDir("pr").get) == vBefore,
      "zero-candidate MoR delete must not burn a version")
    assert(e.executeDuck("SELECT count(*) AS n FROM pr")
      .collect()(0).getLong(0) == 145L)
    e.close()
  }

  test("time-travel reads prune against the as-of version's manifest") {
    val e = engine
    prunedFixture(e)
    // v4 rewrites the m-band; the as-of read of v3 must prune with
    // v3's manifest and see pre-update values
    e.executeDuck("UPDATE pr SET v = v + 1000 WHERE k = 'm-0100'")
    val got = e.executeDuck("SELECT v AS v FROM pr VERSION AS OF 3 " +
      "WHERE k BETWEEN 'm-0100' AND 'm-0101' ORDER BY v")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(100, 101), s"as-of content: $got")
    val asofPrune = e.lastPrune.keys.find(_.contains("_asof_"))
    assert(asofPrune.exists(k =>
      e.lastPrune(k)._1 < e.lastPrune(k)._2),
      s"as-of scan must prune: ${e.lastPrune}")
    e.close()
  }

  test("SQL time travel: VERSION/TIMESTAMP AS OF resolve committed " +
      "snapshots per table reference; literals never match; bad " +
      "versions fail loudly") {
    val e = engine
    e.executeDuck("CREATE TABLE tt (id int)")
    e.executeDuck("INSERT INTO tt VALUES (1)")         // v1
    e.executeDuck("INSERT INTO tt VALUES (2), (3)")    // v2
    def n(sql: String): Long =
      e.executeDuck(sql).collect()(0).getLong(0)
    assert(n("SELECT count(*) AS n FROM tt") == 3)
    assert(n("SELECT count(*) AS n FROM tt VERSION AS OF 1") == 1)
    assert(n("SELECT count(*) AS n FROM tt FOR VERSION AS OF 2") == 3)
    // self-join of two versions of the same table in ONE query
    assert(n("SELECT count(*) AS n FROM tt VERSION AS OF 1 a " +
      "JOIN tt b ON a.id = b.id") == 1)
    // the phrase inside a string literal is data, not syntax
    assert(n("SELECT count(*) AS n FROM tt " +
      "WHERE 'tt VERSION AS OF 1' <> ''") == 3)
    // time travel views are statement-scoped: nothing lingers
    assert(!e.registeredTables.exists(_._1.contains("_asof_")))
    // a version that never existed fails loudly, never serves another
    intercept[Exception](
      e.executeDuck("SELECT count(*) AS n FROM tt VERSION AS OF 99")
        .collect())
    // version 0 is the pre-table frame — also loud, never empty-served
    intercept[IllegalArgumentException](
      e.executeDuck("SELECT count(*) AS n FROM tt VERSION AS OF 0"))
    // a statement that fails AFTER a view was bound must not leak it
    intercept[Exception](
      e.executeDuck("SELECT no_such_col FROM tt VERSION AS OF 1"))
    assert(!e.registeredTables.exists(_._1.contains("_asof_")),
      "failed statements must unbind their time-travel views")
    e.close()
  }

  test("a pruned-to-zero probe returns the empty result, not a wrong " +
      "scan; UPDATE after pruning keeps bounds fresh") {
    val e = engine
    prunedFixture(e)
    // probe entirely outside every band: zero files survive
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM pr WHERE k BETWEEN 'q-' AND 'r-'")
      .collect()(0).getLong(0) == 0L)
    assert(e.lastPrune("pr")._1 == 0)
    // COW update rewrites a file; recomputed bounds keep pruning exact
    e.executeDuck("UPDATE pr SET v = v + 1000 WHERE k = 'm-0100'")
    assert(e.executeDuck(
      "SELECT v AS v FROM pr WHERE k BETWEEN 'm-0100' AND 'm-0101'")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(101, 1100))
    assert(e.lastPrune("pr")._1 < e.lastPrune("pr")._2)
    e.close()
  }

  test("MERGE general grammar (r15): WHEN MATCHED THEN DELETE is the " +
      "key-pruned CDC delete-apply — one committed version, untouched " +
      "files reused") {
    val e = engine
    e.executeDuck("CREATE TABLE md (id int, v varchar)")
    e.executeDuck(
      "INSERT INTO md VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    e.executeDuck("CREATE TABLE mdd (k int)")
    e.executeDuck("INSERT INTO mdd VALUES (2), (4), (9)")
    e.executeDuck(
      """MERGE INTO md USING mdd ON md.id = mdd.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(e.executeDuck("SELECT v FROM md ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("a", "c"))
    // one committed version on the snapshot chain (not a lazy shadow)
    val dir = e.snapshotDir("md").get
    assert(graft.operators.SnapshotOps.currentVersion(dir) == 2)
    e.close()
  }

  test("MERGE general grammar (r15): DELETE + INSERT in one statement " +
      "(the full CDC upsert-or-tombstone apply)") {
    val e = engine
    e.executeDuck("CREATE TABLE mx (id int, v varchar)")
    e.executeDuck("INSERT INTO mx VALUES (1,'a'), (2,'b')")
    e.executeDuck("CREATE TABLE mxs (k int, nv varchar)")
    e.executeDuck("INSERT INTO mxs VALUES (2,'B2'), (5,'E5')")
    e.executeDuck(
      """MERGE INTO mx USING mxs ON mx.id = mxs.k
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (k, nv)""".stripMargin)
    assert(e.executeDuck("SELECT id, v FROM mx ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(1 -> "a", 5 -> "E5"))
    e.close()
  }

  test("MERGE general grammar (r15): conditional clauses are " +
      "first-match-wins per row; matched rows winning no clause carry") {
    val e = engine
    e.executeDuck("CREATE TABLE mc (id int, qty int, v varchar)")
    e.executeDuck(
      "INSERT INTO mc VALUES (1,5,'a'), (2,50,'b'), (3,500,'c'), (4,1,'d')")
    e.executeDuck("CREATE TABLE mcs (k int, add_qty int)")
    e.executeDuck("INSERT INTO mcs VALUES (1,10), (2,10), (3,10)")
    // clause order matters: qty >= 100 deletes, qty >= 10 updates,
    // anything else matched carries (id=1 qty=5 untouched)
    e.executeDuck(
      """MERGE INTO mc USING mcs ON mc.id = mcs.k
        |WHEN MATCHED AND mc.qty >= 100 THEN DELETE
        |WHEN MATCHED AND mc.qty >= 10 THEN UPDATE SET qty = mc.qty + mcs.add_qty
        |WHEN NOT MATCHED THEN INSERT (id, qty, v) VALUES (k, add_qty, 'new')
        |""".stripMargin)
    assert(e.executeDuck("SELECT id, qty FROM mc ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq(1 -> 5, 2 -> 60, 4 -> 1))
    e.close()
  }

  test("MERGE general grammar (r15): WHEN NOT MATCHED BY SOURCE — " +
      "mirror-sync deletes and flag-updates in one atomic commit") {
    val e = engine
    e.executeDuck("CREATE TABLE ms (id int, v varchar, stale boolean)")
    e.executeDuck("INSERT INTO ms VALUES " +
      "(1,'a',false), (2,'b',false), (3,'c',false), (4,'d',false)")
    e.executeDuck("CREATE TABLE mss (k int, nv varchar)")
    e.executeDuck("INSERT INTO mss VALUES (1,'A'), (3,'C'), (7,'G')")
    e.executeDuck(
      """MERGE INTO ms USING mss ON ms.id = mss.k
        |WHEN MATCHED THEN UPDATE SET v = mss.nv
        |WHEN NOT MATCHED THEN INSERT (id, v, stale) VALUES (k, nv, false)
        |WHEN NOT MATCHED BY SOURCE AND ms.id >= 4 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET stale = true
        |""".stripMargin)
    assert(e.executeDuck(
      "SELECT id, v, stale FROM ms ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).toSeq ==
      Seq((1, "A", false), (2, "b", true), (3, "C", false),
        (7, "G", false)))
    // snapshot lifecycle preserved: the merge is ONE committed version
    // and the pre-merge content still time-travels
    val dir = e.snapshotDir("ms").get
    assert(graft.operators.SnapshotOps.currentVersion(dir) == 2)
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM ms VERSION AS OF 1").collect()(0)
      .getLong(0) == 4L)
    e.close()
  }

  test("MERGE (r16): conditional matched-only clause set takes the " +
      "key-pruned commitMerge route — untouched files reused, not a " +
      "full-table rewrite") {
    import graft.operators.SnapshotOps
    val e = engine
    e.executeDuck("CREATE TABLE kp (id int, qty int)")
    e.executeDuck("INSERT INTO kp VALUES (1, 5), (2, 50)")    // file A
    e.executeDuck("INSERT INTO kp VALUES (10, 7), (11, 70)")  // file B
    e.executeDuck("CREATE TABLE kps (k int, add_qty int)")
    e.executeDuck("INSERT INTO kps VALUES (1, 100), (2, 100)")
    // conditional MATCHED-only, no BY SOURCE: the outcome is confined
    // to rows holding source keys, so the commit must be the key-pruned
    // upsert — file B (keys 10/11, outside the source key range) reused
    val dir = e.snapshotDir("kp").get
    val before = SnapshotOps.snapshotFiles(dir, 2)
    e.executeDuck(
      """MERGE INTO kp USING kps ON kp.id = kps.k
        |WHEN MATCHED AND kp.qty >= 10 THEN
        |  UPDATE SET qty = kp.qty + kps.add_qty""".stripMargin)
    assert(e.executeDuck("SELECT id, qty FROM kp ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq(1 -> 5, 2 -> 150, 10 -> 7, 11 -> 70))
    val c = e.lastCommit("kp")
    assert(c.reused >= 1, s"conditional merge reused nothing: $c")
    assert(SnapshotOps.snapshotFiles(dir, 3).exists(before.contains),
      "untouched file must carry forward byte-for-byte")
    // conditional DELETE winners are key-pruned too
    e.executeDuck(
      """MERGE INTO kp USING kps ON kp.id = kps.k
        |WHEN MATCHED AND kp.qty > 100 THEN DELETE""".stripMargin)
    assert(e.executeDuck("SELECT id FROM kp ORDER BY id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 10, 11))
    assert(e.lastCommit("kp").reused >= 1)
    e.close()
  }

  test("MERGE (r16): a bare CASE WHEN in SET values, clause conditions " +
      "and the ON condition never splits a WHEN clause (ADVICE r15)") {
    val e = engine
    e.executeDuck("CREATE TABLE cw (id int, qty int, v varchar)")
    e.executeDuck(
      "INSERT INTO cw VALUES (1, 5, 'a'), (2, 50, 'b'), (3, 7, 'c')")
    e.executeDuck("CREATE TABLE cws (k int, nv varchar)")
    e.executeDuck("INSERT INTO cws VALUES (1,'X'), (2,'Y'), (9,'Z')")
    // CASE in the ON condition, in a clause condition, and in two SET
    // expressions — the old boundary scan split on the CASE's own WHEN
    e.executeDuck(
      """MERGE INTO cw USING cws
        |ON cw.id = CASE WHEN cws.k < 100 THEN cws.k ELSE -1 END
        |WHEN MATCHED AND (CASE WHEN cw.qty >= 10 THEN 1 ELSE 0 END) = 1
        |  THEN UPDATE SET v = CASE WHEN cws.nv = 'Y' THEN 'why'
        |    ELSE cws.nv END
        |WHEN MATCHED THEN UPDATE SET
        |  qty = CASE WHEN cw.qty < 6 THEN 0 ELSE cw.qty END
        |WHEN NOT MATCHED THEN INSERT (id, qty, v) VALUES (k, 0, nv)
        |""".stripMargin)
    assert(e.executeDuck(
      "SELECT id, qty, v FROM cw ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1, 0, "a"), (2, 50, "why"), (3, 7, "c"), (9, 0, "Z")))
    e.close()
  }

  test("MERGE (r16): a duplicate touched target key declines the " +
      "key-pruned route and still lands the correct full-rewrite result") {
    val e = engine
    e.executeDuck("CREATE TABLE dupm (id int, qty int)")
    // duplicate key 1: one row will win the conditional UPDATE, the
    // other must CARRY — commitMerge's key replacement would clobber
    // it, so the route must fall back to the full rewrite
    e.executeDuck("INSERT INTO dupm VALUES (1, 5), (1, 50), (2, 7)")
    e.executeDuck("CREATE TABLE dupms (k int)")
    e.executeDuck("INSERT INTO dupms VALUES (1)")
    e.executeDuck(
      """MERGE INTO dupm USING dupms ON dupm.id = dupms.k
        |WHEN MATCHED AND dupm.qty >= 10 THEN UPDATE SET qty = 0"""
        .stripMargin)
    assert(e.executeDuck("SELECT id, qty FROM dupm ORDER BY id, qty")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq(1 -> 0, 1 -> 5, 2 -> 7))
    e.close()
  }

  test("MERGE resolves its clauses against the base it commits over: " +
      "a commit landing after the table was bound is not lost") {
    import spark.implicits._
    val e = engine
    e.executeDuck("CREATE TABLE ms (id int, qty int)")
    e.executeDuck("INSERT INTO ms VALUES (1, 10), (2, 20)")
    // another writer moves the base past the engine's bound frame
    val dir = e.snapshotDir("ms").get
    graft.operators.SnapshotOps.commitMerge(spark, dir,
      Seq((1, 100)).toDF("id", "qty"), Seq("id"))
    e.executeDuck("CREATE TABLE msd (id int, dq int)")
    e.executeDuck("INSERT INTO msd VALUES (1, 5), (3, 7)")
    e.executeDuck(
      """MERGE INTO ms USING msd ON ms.id = msd.id
        |WHEN MATCHED THEN UPDATE SET qty = ms.qty + msd.dq
        |WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (msd.id, msd.dq)"""
        .stripMargin)
    assert(e.executeDuck("SELECT id, qty FROM ms ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq(1 -> 105, 2 -> 20, 3 -> 7))
    assert(graft.operators.SnapshotOps.currentVersion(dir) == 3)
    e.close()
  }

  test("MERGE into a bucket(8, id) int table from a bigint source " +
      "updates the matched row: the probe hashes the target's type") {
    val e = engine
    e.executeDuck("CREATE TABLE mbk (id int, v int) " +
      "PARTITIONED BY (bucket(8, id))")
    e.executeDuck("INSERT INTO mbk SELECT CAST(id AS INT), CAST(id AS INT) " +
      "FROM range(0, 200)")
    e.executeDuck("CREATE TABLE mbks (id bigint, v int)")
    e.executeDuck("INSERT INTO mbks VALUES (5, 999), (1000, 1)")
    e.executeDuck(
      """MERGE INTO mbk USING mbks ON mbk.id = mbks.id
        |WHEN MATCHED THEN UPDATE SET v = mbks.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (mbks.id, mbks.v)"""
        .stripMargin)
    assert(e.executeDuck("SELECT id, v FROM mbk WHERE id IN (5, 1000) " +
      "ORDER BY id, v").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSeq == Seq(5 -> 999, 1000 -> 1))
    assert(e.executeDuck("SELECT count(*) FROM mbk").collect()(0)
      .getLong(0) == 201L)
    e.close()
  }

  test("a bucket(8, id) table stays partitioned through a key-routed " +
      "MERGE, a merge-on-read UPDATE and small-file compaction") {
    import graft.operators.SnapshotOps
    val e = engine
    // the same statements on a partitioned and an unpartitioned table
    Seq("pb" -> " PARTITIONED BY (bucket(8, id))", "pu" -> "").foreach {
      case (t, spec) =>
        e.executeDuck(s"CREATE TABLE $t (id int, v int)$spec")
        e.executeDuck(s"INSERT INTO $t SELECT CAST(id AS INT), " +
          "CAST(id AS INT) FROM range(0, 200)")
    }
    e.executeDuck("CREATE TABLE pbs (id int, v int)")
    e.executeDuck("INSERT INTO pbs VALUES (5, 999), (77, 7), (1000, 1)")
    val dir = e.snapshotDir("pb").get
    def rows(t: String, where: String = "true"): Seq[(Int, Int)] =
      e.executeDuck(s"SELECT id, v FROM $t WHERE $where ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    def check(step: String): Unit = {
      val v = SnapshotOps.currentVersion(dir)
      val dvs = SnapshotOps.deleteEntries(dir, v).map(_.path).toSet
      val data = SnapshotOps.snapshotEntries(dir, v)
        .filterNot(en => dvs(en.path))
      val unbound = data.filterNot(_.bounds.get("_p.bucket(8,id)")
        .exists { case (lo, hi) => lo == hi })
      assert(unbound.isEmpty, s"after $step, ${unbound.size} of " +
        s"${data.size} live files lack a point bucket bound")
      Seq(5, 15, 1000).foreach { k =>
        e.lastPrune.clear()
        assert(rows("pb", s"id = $k") == rows("pu", s"id = $k"), step)
        assert(e.lastPrune("pb")._1 < e.lastPrune("pb")._2,
          s"after $step, id = $k must prune: ${e.lastPrune("pb")}")
      }
      assert(rows("pb") == rows("pu"), step)
    }
    Seq("pb", "pu").foreach(t => e.executeDuck(
      s"""MERGE INTO $t USING pbs ON $t.id = pbs.id
        |WHEN MATCHED THEN UPDATE SET v = pbs.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (pbs.id, pbs.v)"""
        .stripMargin))
    check("MERGE")
    e.executeDuck("SET update_mode = 'mor'")
    try Seq("pb", "pu").foreach(t => e.executeDuck(
      s"UPDATE $t SET v = v + 1 WHERE id BETWEEN 10 AND 20"))
    finally e.executeDuck("SET update_mode = 'cow'")
    check("UPDATE (mor)")
    assert(!SnapshotOps.commitCompactSmall(spark, dir, 1L << 30).skipped)
    check("commitCompactSmall")
    // one file per bucket is as compact as the spec allows
    assert(SnapshotOps.commitCompactSmall(spark, dir, 1L << 30).skipped)
    e.close()
  }

  test("MERGE from string keys into int and date keys with recorded " +
      "bounds updates the matched rows: the probe ranges in the " +
      "target's types") {
    val e = engine
    e.executeDuck("SET auto_stats = true")
    e.executeDuck("CREATE TABLE mik (id int, d date, v int)")
    // four one-file commits with disjoint id and date bounds
    Seq(0, 50, 100, 150).foreach { b =>
      e.executeDuck(s"INSERT INTO mik SELECT CAST(id + $b AS INT), " +
        s"date_add(DATE '2024-01-01', CAST(id + $b AS INT)), 0 " +
        "FROM range(0, 50)")
    }
    e.executeDuck("CREATE TABLE miks (k varchar, ds varchar, v int)")
    // id 120; 2024-06-01 is the date of id 152
    e.executeDuck("INSERT INTO miks VALUES ('120', '2024-06-01', 7)")
    e.executeDuck(
      """MERGE INTO mik USING miks ON mik.id = miks.k
        |WHEN MATCHED THEN UPDATE SET v = miks.v
        |WHEN NOT MATCHED THEN INSERT (id, d, v)
        |  VALUES (miks.k, miks.ds, miks.v)""".stripMargin)
    e.executeDuck(
      """MERGE INTO mik USING miks ON mik.d = miks.ds
        |WHEN MATCHED THEN UPDATE SET v = miks.v + 1
        |WHEN NOT MATCHED THEN INSERT (id, d, v)
        |  VALUES (miks.k, miks.ds, miks.v)""".stripMargin)
    assert(e.executeDuck("SELECT id, v FROM mik WHERE v <> 0 ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq(120 -> 7, 152 -> 8))
    assert(e.executeDuck("SELECT count(*) FROM mik").collect()(0)
      .getLong(0) == 200L)
    e.close()
  }

  test("MERGE into a string key from an int source matches the rows " +
      "Spark's join matches, whatever their recorded bounds") {
    val e = engine
    e.executeDuck("SET auto_stats = true")
    e.executeDuck("CREATE TABLE msk (k varchar, v int)")
    e.executeDuck("INSERT INTO msk VALUES ('05', 0), ('07', 0)")
    e.executeDuck("INSERT INTO msk VALUES ('50', 0), ('70', 0)")
    e.executeDuck("CREATE TABLE msks (id int, v int)")
    e.executeDuck("INSERT INTO msks VALUES (5, 9)")
    // the join compares as numbers: '05' matches 5, which no string
    // cast of the source key (to '5') reproduces
    assert(e.executeDuck("SELECT msk.k FROM msk JOIN msks " +
      "ON msk.k = msks.id").collect().map(_.getString(0)).toSeq ==
      Seq("05"))
    e.executeDuck(
      """MERGE INTO msk USING msks ON msk.k = msks.id
        |WHEN MATCHED THEN UPDATE SET v = msks.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (msks.id, msks.v)"""
        .stripMargin)
    val got = e.executeDuck("SELECT k, v FROM msk ORDER BY k").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq("05" -> 9, "07" -> 0, "50" -> 0, "70" -> 0))
    e.close()
  }

  test("MERGE: an INSERT whose key value another target row already " +
      "holds appends beside it, as the full rewrite does") {
    val e = engine
    e.executeDuck("CREATE TABLE mk (id int, qty int)")
    e.executeDuck("INSERT INTO mk VALUES (1, 10), (2, 20), (1001, 7)")
    e.executeDuck("CREATE TABLE mks (k int, q int)")
    e.executeDuck("INSERT INTO mks VALUES (1, 5), (3, 9)")
    // key 3 inserts as id 1001: an INSERT, not an update of row 1001
    e.executeDuck(
      """MERGE INTO mk USING mks ON mk.id = mks.k
        |WHEN MATCHED THEN UPDATE SET qty = mks.q
        |WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (mks.k + 998, mks.q)"""
        .stripMargin)
    assert(e.executeDuck("SELECT id, qty FROM mk ORDER BY id, qty").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq(1 -> 5, 2 -> 20, 1001 -> 7, 1001 -> 9))
    e.close()
  }

  test("named refs (r16): tags and branch forks share one ref " +
      "namespace — same-named pairs are rejected in both directions") {
    val e = engine
    e.executeDuck("CREATE TABLE ns (id int)")
    e.executeDuck("INSERT INTO ns VALUES (1)")
    e.executeDuck("PRAGMA create_branch('ns', 'dev')")
    val ex1 = intercept[Exception](
      e.executeDuck("PRAGMA create_tag('ns', 'dev')"))
    assert(ex1.getMessage.contains("ref namespace"), ex1.getMessage)
    e.executeDuck("PRAGMA create_tag('ns', 'rel')")
    val ex2 = intercept[Exception](
      e.executeDuck("PRAGMA create_branch('ns', 'rel')"))
    assert(ex2.getMessage.contains("ref namespace"), ex2.getMessage)
    e.close()
  }

  test("information_schema (r16): the reference get_schema() queries " +
      "run verbatim — DuckDB-shaped tables/columns views over the live " +
      "engine catalog") {
    val e = engine
    e.executeDuck("CREATE TABLE ist (a INTEGER NOT NULL, b VARCHAR, " +
      "c TIMESTAMP, d DECIMAL(15,2))")
    e.executeDuck("CREATE TABLE ist2 (x BIGINT, y DOUBLE)")
    // entry point 3's first query, byte-verbatim (reference
    // examples/utils.py:16-18)
    val t = e.executeDuck("SELECT * FROM information_schema.tables")
    assert(t.columns.toSeq == Seq("table_catalog", "table_schema",
      "table_name", "table_type", "self_referencing_column_name",
      "reference_generation", "user_defined_type_catalog",
      "user_defined_type_schema", "user_defined_type_name",
      "is_insertable_into", "is_typed", "commit_action", "TABLE_COMMENT"))
    assert(t.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3))).toSet ==
      Set(("memory", "main", "ist", "BASE TABLE"),
        ("memory", "main", "ist2", "BASE TABLE")))
    // ...and the per-table columns query (utils.py:20-22): DuckDB's
    // 45-column SQL-standard shape, declared types preserved
    val c = e.executeDuck("SELECT * FROM information_schema.columns " +
      "WHERE table_name = 'ist'")
    assert(c.columns.length == 45)
    assert(c.columns.take(8).toSeq == Seq("table_catalog", "table_schema",
      "table_name", "column_name", "ordinal_position", "column_default",
      "is_nullable", "data_type"))
    val cc = c.collect().sortBy(_.getInt(4)).map(r =>
      (r.getString(3), r.getInt(4), r.getString(6), r.getString(7)))
    assert(cc.toSeq == Seq(("a", 1, "NO", "INTEGER"),
      ("b", 2, "YES", "VARCHAR"), ("c", 3, "YES", "TIMESTAMP"),
      ("d", 4, "YES", "DECIMAL(15,2)")))
    // the views are LIVE: DDL between statements is visible
    e.executeDuck("ALTER TABLE ist2 ADD COLUMN z VARCHAR")
    assert(e.executeDuck("SELECT count(*) AS n FROM " +
      "information_schema.columns WHERE table_name = 'ist2'")
      .collect()(0).getLong(0) == 3L)
    e.executeDuck("DROP TABLE ist")
    assert(e.executeDuck("SELECT count(*) AS n FROM " +
      "information_schema.tables WHERE table_name = 'ist'")
      .collect()(0).getLong(0) == 0L)
    e.close()
  }

  test("maintenance policy (r16): stacked MoR deletes trip the " +
      "commit-time debt flag; SET auto_compact pays it as one " +
      "committed compaction") {
    import graft.operators.SnapshotOps
    val e = engine
    e.executeDuck("SET delete_mode = 'mor'")
    e.executeDuck("CREATE TABLE mt (id int, v int)")
    e.executeDuck("INSERT INTO mt SELECT id, id * 10 FROM " +
      "(SELECT explode(sequence(1, 40)) AS id)")
    def m() = e.executeDuck("PRAGMA table_maintenance('mt')").collect()(0)
    val m0 = m()
    assert(!m0.getBoolean(7) && m0.getLong(4) == 0L, m0.toString)
    // 5/40 deleted rows = 12.5% ≥ the 10% row-tax threshold
    e.executeDuck("DELETE FROM mt WHERE id <= 5")
    val m1 = m()
    assert(m1.getLong(3) == 1L && m1.getLong(4) == 5L, m1.toString)
    assert(m1.getBoolean(7) && m1.getString(8) == "row_tax", m1.toString)
    // flag only — auto_compact is off, so the debt is still there
    val dir = e.snapshotDir("mt").get
    assert(SnapshotOps.deleteStats(dir, SnapshotOps.currentVersion(dir))
      ._2 == 5L)
    // with auto_compact on, the NEXT commit's policy check pays the
    // debt as one committed compaction — DV lines bake in, flag clears
    e.executeDuck("SET auto_compact = true")
    e.executeDuck("DELETE FROM mt WHERE id = 40")
    val m2 = m()
    assert(m2.getString(8).startsWith("auto_compacted("), m2.toString)
    assert(!m2.getBoolean(7) && m2.getLong(4) == 0L && m2.getLong(6) == 0L,
      m2.toString)
    assert(e.executeDuck("SELECT count(*) AS n FROM mt").collect()(0)
      .getLong(0) == 34L)
    // time travel spans the maintenance commit
    assert(e.executeDuck("SELECT count(*) AS n FROM mt VERSION AS OF 1")
      .collect()(0).getLong(0) == 40L)
    // the file-count rule trips independently of the row tax
    e.executeDuck("SET auto_compact = false")
    e.executeDuck("CREATE TABLE mt2 (id int)")
    e.executeDuck("INSERT INTO mt2 SELECT explode(sequence(1, 2000))")
    for (i <- 1 to 8)
      e.executeDuck(s"DELETE FROM mt2 WHERE id = ${i * 3}")
    val f = e.executeDuck("PRAGMA table_maintenance('mt2')").collect()(0)
    assert(f.getBoolean(7) && f.getString(8) == "delete_files",
      f.toString)
    e.close()
  }

  test("named refs (r15): tags pin versions against retention and " +
      "resolve through VERSION AS OF '<name>'; table_refs lists them") {
    val e = engine
    e.executeDuck("CREATE TABLE rt (id int, v varchar)")
    e.executeDuck("INSERT INTO rt VALUES (1, 'a')")              // v1
    e.executeDuck("INSERT INTO rt VALUES (2, 'b')")              // v2
    e.executeDuck("PRAGMA create_tag('rt', 'rel-1', 1)")
    e.executeDuck("PRAGMA create_tag('rt', 'latest')") // defaults to head
    e.executeDuck("UPDATE rt SET v = 'z' WHERE id = 1")          // v3
    val refs = e.executeDuck("PRAGMA table_refs('rt')").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs == Seq(("latest", "tag", 2L), ("rel-1", "tag", 1L)))
    // tag resolution in any table position, the Iceberg string form
    assert(e.executeDuck(
      "SELECT v FROM rt VERSION AS OF 'rel-1'").collect()
      .map(_.getString(0)).toSeq == Seq("a"))
    // retention keeps BOTH tagged versions outside the horizon
    e.executeDuck("PRAGMA expire_snapshots('rt', 1)")
    assert(e.executeDuck(
      "SELECT v FROM rt FOR VERSION AS OF 'rel-1'").collect()
      .map(_.getString(0)).toSeq == Seq("a"))
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM rt VERSION AS OF 2").collect()(0)
      .getLong(0) == 2L, "'latest' pins v2 through the expiry")
    // unknown ref fails loudly; dropping the tags releases the pins
    intercept[Exception](e.executeDuck(
      "SELECT v FROM rt VERSION AS OF 'nope'"))
    e.executeDuck("PRAGMA drop_tag('rt', 'rel-1')")
    e.executeDuck("PRAGMA drop_tag('rt', 'latest')")
    e.executeDuck("PRAGMA expire_snapshots('rt', 1)")
    intercept[Exception](e.executeDuck(
      "SELECT v FROM rt VERSION AS OF 'rel-1'"))
    intercept[Exception](e.executeDuck(
      "SELECT v FROM rt VERSION AS OF 2").collect())
    e.close()
  }

  test("named refs (r15): a branch fork is a writable table " +
      "t.branch_<name> — DML isolated from main, readable via " +
      "VERSION AS OF '<name>', adopted by fast_forward") {
    val e = engine
    e.executeDuck("CREATE TABLE bt (id int, v varchar)")
    e.executeDuck("INSERT INTO bt VALUES (1, 'a'), (2, 'b')")    // v1
    e.executeDuck("PRAGMA create_branch('bt', 'dev')")
    // full DML on the branch through the normal SQL path
    e.executeDuck("INSERT INTO bt.branch_dev VALUES (3, 'c')")
    e.executeDuck("UPDATE bt.branch_dev SET v = 'B' WHERE id = 2")
    e.executeDuck("DELETE FROM bt.branch_dev WHERE id = 1")
    // main is untouched; the branch reads both ways
    assert(e.executeDuck("SELECT v FROM bt ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(e.executeDuck(
      "SELECT v FROM bt.branch_dev ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("B", "c"))
    assert(e.executeDuck(
      "SELECT v FROM bt VERSION AS OF 'dev' ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("B", "c"))
    val refs = e.executeDuck("PRAGMA table_refs('bt')").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs == Seq(("dev", "branch")))
    // fast-forward adopts the branch history and consumes the fork
    val ff = e.executeDuck("PRAGMA fast_forward('bt', 'dev')")
      .collect()(0)
    assert(ff.getLong(1) == 3L, s"three branch commits adopt: $ff")
    assert(e.executeDuck("SELECT v FROM bt ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("B", "c"))
    // adopted intermediate versions time-travel on main
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM bt VERSION AS OF 2").collect()(0)
      .getLong(0) == 3L)
    assert(e.executeDuck("PRAGMA table_refs('bt')").collect().isEmpty)
    intercept[Exception](e.executeDuck(
      "SELECT * FROM bt.branch_dev").collect())
    e.close()
  }

  test("named refs (r15): branches and tags are durable with a " +
      "warehouse table — a fresh engine re-attaches the branch " +
      "binding and fast_forward works across sessions") {
    val wh = Files.createTempDirectory("graft_wh_refs").toString
    val e1 = engine
    e1.executeDuck(s"SET warehouse = '$wh'")
    e1.executeDuck("CREATE TABLE dt (id int)")
    e1.executeDuck("INSERT INTO dt VALUES (1)")
    e1.executeDuck("PRAGMA create_tag('dt', 'seed')")
    e1.executeDuck("PRAGMA create_branch('dt', 'work')")
    e1.executeDuck("INSERT INTO dt.branch_work VALUES (2)")
    e1.close()
    val e2 = engine
    e2.executeDuck(s"SET warehouse = '$wh'")
    assert(e2.executeDuck(
      "SELECT count(*) AS n FROM dt.branch_work").collect()(0)
      .getLong(0) == 2L)
    assert(e2.executeDuck("PRAGMA table_refs('dt')").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("work", "branch"), ("seed", "tag")))
    e2.executeDuck("PRAGMA fast_forward('dt', 'work')")
    assert(e2.executeDuck("SELECT count(*) AS n FROM dt").collect()(0)
      .getLong(0) == 2L)
    e2.executeDuck("DROP TABLE dt")
    e2.close()
  }

  test("CREATE OR REPLACE TABLE AS (r16): an existing snapshot chain " +
      "takes one committed overwrite — history survives, and a " +
      "durable replace is the truth after reopen") {
    val e = engine
    e.executeDuck("CREATE TABLE rt (id int)")
    e.executeDuck("INSERT INTO rt VALUES (1), (2)")                // v1
    e.executeDuck("CREATE OR REPLACE TABLE rt AS SELECT 9 AS id")  // v2
    assert(e.executeDuck("SELECT id FROM rt").collect()
      .map(_.getInt(0)).toSeq == Seq(9))
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM rt VERSION AS OF 1").collect()(0)
      .getLong(0) == 2L)
    // self-referencing replace reads the old chain, writes the new
    e.executeDuck(
      "CREATE OR REPLACE TABLE rt AS SELECT id + 1 AS id FROM rt")
    assert(e.executeDuck("SELECT id FROM rt").collect()
      .map(_.getInt(0)).toSeq == Seq(10))
    e.close()
    // durable: the replace IS the warehouse state after reopen
    val wh = Files.createTempDirectory("graft_wh_cor").toString
    val e1 = engine
    e1.executeDuck(s"SET warehouse = '$wh'")
    e1.executeDuck("CREATE TABLE dt (id int)")
    e1.executeDuck("INSERT INTO dt VALUES (1)")
    e1.executeDuck("CREATE OR REPLACE TABLE dt AS SELECT 5 AS id")
    e1.close()
    val e2 = engine
    e2.executeDuck(s"SET warehouse = '$wh'")
    assert(e2.executeDuck("SELECT id FROM dt").collect()
      .map(_.getInt(0)).toSeq == Seq(5))
    e2.executeDuck("DROP TABLE dt")
    e2.close()
  }

  test("TRUNCATE TABLE (r16): one committed overwrite — empty head, " +
      "history time-travels, appends continue on the same chain") {
    val e = engine
    e.executeDuck("CREATE TABLE tt (id int, v varchar)")
    e.executeDuck("INSERT INTO tt VALUES (1, 'a'), (2, 'b')")      // v1
    e.executeDuck("TRUNCATE TABLE tt")                             // v2
    assert(e.executeDuck("SELECT count(*) AS n FROM tt").collect()(0)
      .getLong(0) == 0L)
    // schema survives the truncation
    assert(e.executeDuck("SELECT * FROM tt").columns.toSeq ==
      Seq("id", "v"))
    // the pre-truncate version still reads (a commit, not a wipe)
    assert(e.executeDuck(
      "SELECT count(*) AS n FROM tt VERSION AS OF 1").collect()(0)
      .getLong(0) == 2L)
    // the chain continues: a post-truncate insert is v3
    e.executeDuck("INSERT INTO tt VALUES (9, 'z')")
    assert(e.executeDuck("SELECT id FROM tt").collect()
      .map(_.getInt(0)).toSeq == Seq(9))
    // bare TRUNCATE form and unknown-table refusal
    e.executeDuck("TRUNCATE tt")
    assert(e.executeDuck("SELECT count(*) AS n FROM tt").collect()(0)
      .getLong(0) == 0L)
    intercept[Exception](e.executeDuck("TRUNCATE TABLE no_such"))
    e.close()
  }
}
