package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.{ExtendedMode, QueryExecution}
import org.apache.spark.sql.functions.{col, lit}

import graft.plans.{ParamLiteral, SmallInputPlanning}

/** Generated code depends on a plan's shape, not on its literal values
  * or its stage ids (`GraftSession.prepare`): a statement shape run
  * again with new values hits Spark's codegen cache. Counted with
  * [[SparkSpecBase.compilationsOf]]. */
class CodegenReuseSpec extends SparkSpecBase {

  /** A table of four one-file commits: ids 1-100, ..., 301-400, with
    * k = id % 7 and qty = id. */
  private def fourFileTable(e: Engine, name: String): Unit = {
    e.executeDuck(s"CREATE TABLE $name (id int, k int, qty int)")
    (0 until 4).foreach { f =>
      e.executeDuck(s"INSERT INTO $name VALUES " + (1 to 100)
        .map(i => s"(${f * 100 + i}, ${i % 7}, ${f * 100 + i})").mkString(", "))
    }
  }

  private def between(t: String, lo: Int, hi: Int): String =
    s"SELECT k, count(*) AS n, sum(qty) AS s FROM $t " +
      s"WHERE id BETWEEN $lo AND $hi GROUP BY k"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("one UPDATE shape with 20 literal sets compiles at most one class " +
      "after the first") {
    val e = new Engine(spark)
    fourFileTable(e, "cgu")
    def update(i: Int): Unit = {
      val lo = 3 + (i % 9) * 10
      e.executeDuck(s"UPDATE cgu SET qty = qty + ${i + 1} " +
        s"WHERE id BETWEEN $lo AND ${lo + 4}")
    }
    update(0)
    val later = compilationsOf((1 until 20).foreach(update))
    assert(later <= 1, s"$later compilations over 19 UPDATEs after the first")
    assert(e.executeDuck("SELECT sum(qty) FROM cgu").collect().head
      .getLong(0) == (1 to 400).sum + (0 until 20).map(i => 5 * (i + 1)).sum)
    e.close()
  }

  test("20 BETWEEN aggregates with different bounds compile nothing " +
      "after the first") {
    val e = new Engine(spark)
    fourFileTable(e, "cgs")
    val bounds = (0 until 20).map(i => (7 + 13 * i, 120 + 11 * i))
    val first = rows(e.executeDuck(between("cgs", bounds.head._1,
      bounds.head._2)))
    assert(first.nonEmpty)
    var results = Seq.empty[Seq[String]]
    val later = compilationsOf {
      results = bounds.tail.map { case (lo, hi) =>
        rows(e.executeDuck(between("cgs", lo, hi)))
      }
    }
    assert(later == 0, s"$later compilations over 19 SELECTs after the first")
    // every bound took effect: the row totals follow the ranges
    results.zip(bounds.tail).foreach { case (r, (lo, hi)) =>
      assert(r.map(_.split(",")(1).toLong).sum == hi - lo + 1)
    }
    e.close()
  }

  test("a union of four branches that differ only in a literal compiles " +
      "one class per distinct body") {
    // values unique to this run, so no earlier run's class is cached
    val base = 1000 + (System.nanoTime() % 100000).toInt
    def union(s: org.apache.spark.sql.SparkSession): Seq[String] =
      rows((0 until 4).map { i =>
        s.range(100).where(col("id") >= base % 50 + i)
          .withColumn("tag", lit(base + i))
      }.reduce(_ unionByName _))
    val bare = spark.newSession()
    var plain, shaped = Seq.empty[String]
    val unprepared = compilationsOf { plain = union(bare) }
    val prepared = compilationsOf { shaped = union(spark) }
    // one body, compiled at most once per class loader (driver, tasks)
    assert(prepared <= 2, s"prepared: $prepared, unprepared: $unprepared")
    assert(prepared * 2 < unprepared,
      s"prepared: $prepared, unprepared: $unprepared")
    assert(shaped == plain)
  }

  test("EXPLAIN of a BETWEEN aggregate is identical with and without the " +
      "rule, and its scan still pushes the bounds") {
    val e = new Engine(spark)
    fourFileTable(e, "cge")
    val analyzed = e.executeDuck(between("cge", 137, 253))
      .queryExecution.analyzed
    def qe(s: org.apache.spark.sql.SparkSession) =
      new QueryExecution(ClassicConversions.castToImpl(s), analyzed)
    val withRule = qe(spark)
    // a new session has none of graft's preparation; it gets the planner
    // strategy, so the two plans differ by the optimizer rule alone
    val bare = spark.newSession()
    bare.experimental.extraStrategies = Seq(SmallInputPlanning)
    val without = qe(bare)
    def params(p: LogicalPlan) = p.collect {
      case n => n.expressions.flatMap(_.collect { case l: ParamLiteral => l })
    }.flatten
    assert(params(withRule.optimizedPlan).nonEmpty)
    assert(params(without.optimizedPlan).isEmpty)
    // two plannings of one plan number their exchanges and aggregate
    // buffers apart with or without the rule; every other byte is equal
    def explain(q: QueryExecution) = q.explainString(ExtendedMode)
      .replaceAll("#\\d+", "#_").replaceAll("plan_id=\\d+", "plan_id=_")
    val explained = explain(withRule)
    assert(explained == explain(without))
    assert(explained.contains("GreaterThanOrEqual(id,137)") &&
      explained.contains("LessThanOrEqual(id,253)"), explained)
    def collected(q: QueryExecution) =
      q.executedPlan.executeCollectPublic().map(_.toString).toSeq.sorted
    assert(collected(withRule) == collected(without))
    assert(collected(withRule).map(_.split(",")(1).toLong).sum == 117)
    e.close()
  }
}
