package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.{ExtendedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.{array, col, count, explode, lit,
  rand, split, sum, udf}

import graft.functions.GraftFunctions
import graft.operators.SnapshotOps
import graft.plans.{ParamLiterals, SmallInputPlanning}

/** [[graft.plans.SmallInputPlanning]]: a sort or an aggregate whose
  * input is under AQE's coalescing floor runs in one partition, with
  * the job counts that pins, and every other plan is left as Spark
  * plans it. "Spark's plan" is the same analyzed plan planned by a
  * session prepared like graft's but without the strategy. */
class SmallInputPlanningSpec extends SparkSpecBase {

  /** A session with graft's optimizer rule and class naming and none of
    * its planner strategies: the plan the strategy must equal or beat. */
  private lazy val bare: SparkSession = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s.experimental.extraOptimizations = Seq(ParamLiterals)
    s.conf.set("spark.sql.codegen.useIdInClassName", "false")
    s
  }

  private def qe(s: SparkSession, analyzed: LogicalPlan): QueryExecution =
    new QueryExecution(ClassicConversions.castToImpl(s), analyzed)

  private def rowsOf(q: QueryExecution): Seq[Row] =
    q.executedPlan.executeCollectPublic().toSeq

  /** `df`'s rows planned without the strategy. */
  private def bareRows(df: DataFrame): Seq[Row] =
    rowsOf(qe(bare, df.queryExecution.analyzed))

  /** The physical plan `df` ran: AQE's final plan once it has run. */
  private def ranPlan(df: DataFrame): String =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan.toString
      case p => p.toString
    }

  private def explained(q: QueryExecution): String =
    q.explainString(ExtendedMode).replaceAll("#\\d+", "#_")
      .replaceAll("plan_id=\\d+", "plan_id=_")

  /** Runs `body` with session confs set on both sessions. */
  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val sessions = Seq(spark, bare)
    val old = sessions.map(s =>
      kv.map { case (k, _) => k -> s.conf.getOption(k) })
    sessions.foreach(s => kv.foreach { case (k, v) => s.conf.set(k, v) })
    try body
    finally sessions.zip(old).foreach { case (s, kvs) =>
      kvs.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  /** A parquet directory of `n` rows (id, k = id % 7, qty = id % 100,
    * tag = a few words), one file per `files`. */
  private def parquetTable(n: Long, files: Int,
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    val dir = Files.createTempDirectory("small-input").resolve("t").toString
    extra.foldLeft(spark.range(n).select(col("id"), (col("id") % 7).as("k"),
      (col("id") % 100).as("qty"),
      lit("alpha beta").as("tag"))) { case (d, (c, e)) => d.withColumn(c, e) }
      .repartition(files).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def fileBytes(df: DataFrame): Long =
    df.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum

  private val floor = 1L << 20

  test("a small snapshot table's GROUP BY k ORDER BY k and its VERSION " +
      "AS OF form each run one job, with Spark's rows") {
    val e = new Engine(spark)
    e.executeDuck("CREATE TABLE sip (id int, k int, qty int)")
    (0 until 4).foreach { f =>
      e.executeDuck("INSERT INTO sip VALUES " + (1 to 100)
        .map(i => s"(${f * 100 + i}, ${i % 7}, ${f * 100 + i})")
        .mkString(", "))
    }
    // version 3 holds the first three commits: ids 1-300
    for ((sql, ids) <- Seq(
        "SELECT k, count(*) AS n, sum(qty) AS s FROM sip " +
          "WHERE id BETWEEN 50 AND 350 GROUP BY k ORDER BY k" -> (50 to 350),
        "SELECT k, count(*) AS n, sum(qty) AS s FROM sip VERSION AS OF 3 " +
          "WHERE id BETWEEN 50 AND 350 GROUP BY k ORDER BY k" -> (50 to 300))) {
      var got = Seq.empty[Row]
      val jobs = jobsOf { got = e.executeDuck(sql).collect().toSeq }
      assert(jobs.size == 1, s"${jobs.size} jobs for $sql")
      val want = ids.groupBy(id => ((id - 1) % 100 + 1) % 7).toSeq.sortBy(_._1)
        .map { case (k, g) => Row(k, g.size.toLong, g.map(_.toLong).sum) }
      assert(got == want, sql)
      assert(got == bareRows(e.executeDuck(sql)), sql)
    }
    e.close()
  }

  test("a read of a merge-on-read version, a union of scans under the " +
      "deletion-vector probe, runs one job") {
    val e = new Engine(spark)
    e.register("sipd", spark.range(5000).selectExpr("CAST(id AS int) AS id",
      "CAST(id % 50 AS int) AS k", "CAST(id AS int) AS qty"))
    e.executeDuck("INSERT INTO sipd VALUES (5000, 0, 5000)")
    e.executeDuck("SET delete_mode = 'mor'")
    try e.executeDuck("DELETE FROM sipd WHERE id BETWEEN 100 AND 155")
    finally e.executeDuck("SET delete_mode = 'cow'")
    val v = SnapshotOps.currentVersion(e.snapshotDir("sipd").get)
    for ((sql, ids) <- Seq(
        s"SELECT k, count(*) AS n, sum(qty) AS s FROM sipd VERSION AS OF " +
          s"$v GROUP BY k ORDER BY k" -> (0 to 5000),
        "SELECT k, count(*) AS n, sum(qty) AS s FROM sipd WHERE id " +
          "BETWEEN 50 AND 2050 GROUP BY k ORDER BY k" -> (50 to 2050))) {
      val df = e.executeDuck(sql)
      assert(df.queryExecution.optimizedPlan.exists(_.nodeName == "Union"),
        df.queryExecution.optimizedPlan.treeString)
      var got = Seq.empty[Row]
      val jobs = jobsOf { got = df.collect().toSeq }
      assert(jobs.size == 1, s"${jobs.size} jobs for $sql")
      val want = ids.filterNot(i => i >= 100 && i <= 155)
        .groupBy(_ % 50).toSeq.sortBy(_._1)
        .map { case (k, g) => Row(k, g.size.toLong, g.map(_.toLong).sum) }
      assert(got == want, sql)
      assert(got == bareRows(df), sql)
    }
    e.close()
  }

  test("a table above the floor keeps its hash exchange and drops only " +
      "the range exchange: two jobs") {
    val big = parquetTable(200000, 4, Seq("x" -> rand(7)))
    assert(fileBytes(big) > floor, s"${fileBytes(big)} file bytes")
    val df = big.groupBy("k").agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .orderBy("k")
    var got = Seq.empty[Row]
    val jobs = jobsOf { got = df.collect().toSeq }
    val plan = ranPlan(df)
    assert(jobs.size == 2, s"${jobs.size} jobs:\n$plan")
    assert(plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    val want = bareRows(df)
    assert(got.map(r => (r.getLong(0), r.getLong(1))) ==
      want.map(r => (r.getLong(0), r.getLong(1))))
    got.zip(want).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(2) - b.getDouble(2)) < 1e-6) }
  }

  test("a UDF, a graft kernel or a Generate on the path keeps the hash " +
      "exchange") {
    val t = parquetTable(2000, 4)
    assert(fileBytes(t) <= floor)
    val plusOne = udf((k: Long) => k + 1)
    val cases = Seq(
      "plain" -> t.groupBy("k").agg(sum("qty").as("s")),
      "udf" -> t.select(plusOne(col("k")).as("k"), col("qty"))
        .groupBy("k").agg(sum("qty").as("s")),
      "kernel" -> t.select(GraftFunctions.simhash64(split(col("tag"), " "))
        .as("k"), col("qty")).groupBy("k").agg(sum("qty").as("s")),
      "generate" -> t.select(explode(array(col("k"), col("k") + 7)).as("k"),
        col("qty")).groupBy("k").agg(sum("qty").as("s")))
    cases.foreach { case (name, df) =>
      var got = Seq.empty[Row]
      val jobs = jobsOf { got = df.collect().toSeq }
      val plan = ranPlan(df)
      if (name == "plain") {
        assert(jobs.size == 1 && !plan.contains("hashpartitioning"),
          s"$name: ${jobs.size} jobs\n$plan")
      } else {
        assert(jobs.size == 2 && plan.contains("hashpartitioning"),
          s"$name: ${jobs.size} jobs\n$plan")
      }
      assert(got.map(_.toString).sorted == bareRows(df).map(_.toString).sorted,
        name)
    }
  }

  test("with AQE or its coalescing off, the plan is Spark's plan") {
    val t = parquetTable(2000, 4)
    val df = t.where(col("id") > 10).groupBy("k").agg(sum("qty").as("s"))
      .orderBy("k")
    for (kv <- Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")) {
      withConfs(kv) {
        val analyzed = df.queryExecution.analyzed
        val withIt = qe(spark, analyzed)
        val without = qe(bare, analyzed)
        val rows = rowsOf(withIt)
        assert(rows == rowsOf(without), kv.toString)
        val plan = explained(withIt)
        assert(plan == explained(without), kv.toString)
        assert(plan.contains("rangepartitioning") &&
          plan.contains("hashpartitioning"), plan)
        assert(rows.size == 7)
      }
    }
  }

  test("a streaming aggregate is planned as Spark plans it") {
    val t = parquetTable(2000, 2)
    val dir = t.inputFiles.head.replaceAll("/[^/]*$", "")
    val stream = spark.readStream.schema(t.schema).parquet(dir)
      .groupBy("k").agg(sum("qty").as("s"))
    val analyzed = stream.queryExecution.analyzed
    assert(analyzed.isStreaming)
    assert(analyzed.collect { case p => SmallInputPlanning(p) }
      .forall(_.isEmpty))
    val q = stream.writeStream.format("memory").queryName("sip_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning") && !plan.contains("Coalesce"),
        plan)
      assert(spark.table("sip_stream").collect().map(_.getLong(1)).sum ==
        t.agg(sum("qty")).collect().head.getLong(0))
    } finally q.stop()
  }

  test("a sort over local rows matches the range-exchange plan's rows " +
      "for ties, NULLS FIRST/LAST, DESC and multi-key orders") {
    import spark.implicits._
    val data = Seq[(Option[Int], Option[String], Int)](
      (Some(3), Some("c"), 1), (None, Some("a"), 2), (Some(1), None, 3),
      (Some(3), Some("a"), 4), (Some(1), Some("b"), 5), (None, None, 6),
      (Some(2), Some("c"), 7), (Some(3), Some("c"), 8), (Some(1), None, 9),
      (Some(2), Some("a"), 10), (None, Some("b"), 11), (Some(2), None, 12))
    val df = data.toDF("a", "b", "n")
    val orders: Seq[(String, Seq[Column])] = Seq(
      "ties" -> Seq(col("a")),
      "nulls first" -> Seq(col("a").asc_nulls_first),
      "nulls last" -> Seq(col("a").asc_nulls_last),
      "desc" -> Seq(col("a").desc),
      "desc nulls first" -> Seq(col("a").desc_nulls_first),
      "multi-key" -> Seq(col("a").desc_nulls_last, col("b").asc_nulls_first),
      "total" -> Seq(col("b").desc, col("a").asc_nulls_last, col("n").desc))
    orders.foreach { case (name, keys) =>
      val sorted = df.orderBy(keys: _*)
      val got = sorted.collect().toSeq
      val plan = ranPlan(sorted)
      assert(plan.contains("Coalesce 1") && !plan.contains("rangepartitioning"),
        s"$name:\n$plan")
      val want = bareRows(sorted)
      // rows tied on the sort keys may come in any order
      def keyOf(r: Row): Seq[Any] = name match {
        case "multi-key" => Seq(r.get(0), r.get(1))
        case "total" => Seq(r.get(1), r.get(0), r.get(2))
        case _ => Seq(r.get(0))
      }
      assert(got.map(keyOf) == want.map(keyOf), name)
      assert(got.map(_.toString).sorted == want.map(_.toString).sorted, name)
      if (name == "total") assert(got == want)
    }
  }
}
