package graft

import org.apache.spark.sql.classic.ClassicConversions
import graft.dialect.DuckRewriter

/** String-level tests of the DuckDB→Spark dialect front-end
  * (SURVEY.md §4 item 1). Only the window-filter shapes at the end touch
  * Spark: their output must parse and return the rows of a hand-written
  * Spark query. */
class DuckRewriterSpec extends SparkSpecBase {

  private val schema: String => Option[Seq[String]] = {
    case "customer" =>
      Some(Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"))
    case "t" => Some(Seq("a", "b", "c"))
    case _   => None
  }

  private def rw(s: String): String = DuckRewriter.rewrite(s, schema)

  test("bare FROM gets SELECT *") {
    assert(rw("FROM t ORDER BY a") == "SELECT * FROM t ORDER BY a")
  }

  test("IN (FROM t) becomes IN (SELECT * FROM t)") {
    assert(rw("SELECT 1 WHERE x IN (FROM t)")
      == "SELECT 1 WHERE x IN (SELECT * FROM t)")
  }

  test("* EXCLUDE expands to remaining columns") {
    assert(rw("SELECT * EXCLUDE (c_acctbal) FROM customer")
      == "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer")
  }

  test("* EXCLUDE with several columns") {
    assert(rw("SELECT * EXCLUDE (b, c) FROM t") == "SELECT a FROM t")
  }

  test("* REPLACE substitutes the expression, keeping position") {
    assert(rw("SELECT * REPLACE (upper(c_mktsegment) AS c_mktsegment) FROM customer")
      == "SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
        "upper(c_mktsegment) AS c_mktsegment FROM customer")
  }

  test("* REPLACE with nested call and two items") {
    assert(rw("SELECT * REPLACE (round(a / 0.85, 2) AS a, upper(b) AS b) FROM t")
      == "SELECT round(a / 0.85, 2) AS a, upper(b) AS b, c FROM t")
  }

  test("COLUMNS regex expands to matching columns") {
    assert(rw("SELECT COLUMNS('^c_(custkey|name)$') FROM customer")
      == "SELECT c_custkey, c_name FROM customer")
  }

  test("json arrow ->> maps to get_json_object") {
    assert(rw("SELECT props->>'k' FROM t")
      == "SELECT get_json_object(props, '$.k') FROM t")
  }

  test("bracket index becomes duck_index") {
    assert(rw("SELECT name[1] FROM t") == "SELECT duck_index(name, 1) FROM t")
  }

  test("bracket slice with both bounds") {
    assert(rw("SELECT name[2:4] FROM t")
      == "SELECT duck_slice(name, 2, 4) FROM t")
  }

  test("open-ended slices") {
    assert(rw("SELECT name[:4] FROM t")
      == "SELECT duck_slice(name, 1, 4) FROM t")
    assert(rw("SELECT name[2:] FROM t")
      == s"SELECT duck_slice(name, 2, ${Int.MaxValue}) FROM t")
  }

  test("slice over a function call result") {
    assert(rw("SELECT split_part(url, '/', 2)[1:5] FROM t")
      == "SELECT duck_slice(split_part(url, '/', 2), 1, 5) FROM t")
  }

  test("list literal becomes array()") {
    assert(rw("SELECT [1, 2, 3]") == "SELECT array(1, 2, 3)")
  }

  test("struct literal becomes named_struct") {
    assert(rw("SELECT {'a': 1, 'b': 2, 'c': 3}")
      == "SELECT named_struct('a', 1, 'b', 2, 'c', 3)")
  }

  test("single-quoted alias becomes backticks") {
    assert(rw("SELECT price / 0.85 AS 'price (USD)' FROM t")
      == "SELECT price / 0.85 AS `price (USD)` FROM t")
  }

  test("plain SQL passes through untouched") {
    val q = "SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY a"
    assert(rw(q) == q)
  }

  test("chained json arrows nest get_json_object") {
    assert(rw("SELECT x->'a'->>'b' FROM t")
      == "SELECT get_json_object(get_json_object(x, '$.a'), '$.b') FROM t")
  }

  test("json arrow on a call-result base wraps the whole call") {
    assert(rw("SELECT json_extract(col, 'x')->>'name' FROM t")
      == "SELECT get_json_object(json_extract(col, 'x'), '$.name') FROM t")
  }

  test("non-literal bracket subscripts rewrite to duck_index") {
    assert(rw("SELECT arr[idx] FROM t") ==
      "SELECT duck_index(arr, idx) FROM t")
    assert(rw("SELECT arr[i + 1] FROM t") ==
      "SELECT duck_index(arr, i + 1) FROM t")
  }

  test("string-literal base indexing and slicing") {
    assert(rw("SELECT 'hello'[2]") == "SELECT duck_index('hello', 2)")
    assert(rw("SELECT 'hello'[1:3]") == "SELECT duck_slice('hello', 1, 3)")
  }

  test("nested list literals convert at every level") {
    assert(rw("SELECT [[1,2],[3,4]]")
      == "SELECT array(array(1,2),array(3,4))")
  }

  test("::INT covers parenthesized, numeric and literal bases") {
    assert(rw("SELECT (a + b)::INT FROM t")
      == "SELECT CAST(rint((a + b)) AS INT) FROM t")
    assert(rw("SELECT 3.5::INT") == "SELECT CAST(rint(3.5) AS INT)")
    assert(rw("SELECT '2.5'::INT") == "SELECT CAST(rint('2.5') AS INT)")
  }

  test("lateral alias inlining leaves string literals intact") {
    val q = "SELECT upper(a) AS state FROM t WHERE state = 'state pending'"
    assert(rw(q)
      == "SELECT upper(a) AS state FROM t WHERE (upper(a)) = 'state pending'")
  }

  test("regex character classes inside literals are never list literals") {
    val q = "SELECT regexp_extract(a, '[a-z]+', 0) FROM t"
    assert(rw(q) == q)
  }

  test("QUALIFY on an alias moves to an outer WHERE") {
    assert(rw("SELECT a, row_number() OVER (ORDER BY a) AS rn FROM t " +
      "QUALIFY rn <= 2 ORDER BY a")
      == "SELECT a, rn FROM (SELECT a, row_number() OVER (ORDER BY a) AS rn" +
        " FROM t) __q WHERE rn <= 2 ORDER BY a")
  }

  test("QUALIFY with a direct window call computes __qualify inside") {
    assert(rw("SELECT a, b FROM t " +
      "QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1")
      == "SELECT a, b FROM (SELECT a, b, (row_number() OVER (PARTITION BY a" +
        " ORDER BY b) = 1) AS __qualify FROM t) __q WHERE __qualify")
  }

  test("QUALIFY leaves un-aliasable select items untouched") {
    val q = "SELECT a + 1 FROM t QUALIFY row_number() OVER (ORDER BY a) = 1"
    assert(rw(q) == q)
  }

  test("ORDER BY inside the window spec does not split the predicate") {
    val out = rw("SELECT a FROM t " +
      "QUALIFY rank() OVER (ORDER BY a) <= 3 LIMIT 5")
    assert(out == "SELECT a FROM (SELECT a, (rank() OVER (ORDER BY a) <= 3)" +
      " AS __qualify FROM t) __q WHERE __qualify LIMIT 5")
  }

  // A window filter over a query with its own WHERE: the outer SELECT
  // and the inner WHERE are different scopes, so the lateral alias pass
  // must not inline `rn` across the derived table (that leaves an
  // unbalanced WHERE). `None`: the rewrite leaves the text as it is.
  private val windowFilters = Seq(
    "QUALIFY on an alias + WHERE" ->
      ("SELECT a, row_number() OVER (PARTITION BY a ORDER BY b) AS rn " +
        "FROM t WHERE b > 0 QUALIFY rn <= 2",
       Some("SELECT a, rn FROM (SELECT a, row_number() OVER (PARTITION BY" +
        " a ORDER BY b) AS rn FROM t WHERE b > 0) __q WHERE rn <= 2")),
    "QUALIFY on a direct window call + WHERE" ->
      ("SELECT a, b FROM t WHERE b > 0 " +
        "QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) <= 2",
       Some("SELECT a, b FROM (SELECT a, b, (row_number() OVER (PARTITION" +
        " BY a ORDER BY b) <= 2) AS __qualify FROM t WHERE b > 0) __q" +
        " WHERE __qualify")),
    "outer WHERE over an aliased windowed derived table" ->
      ("SELECT a, rn FROM (SELECT a, row_number() OVER (PARTITION BY a " +
        "ORDER BY b) AS rn FROM t WHERE b > 0) s WHERE rn <= 2", None),
    "outer WHERE over an unaliased windowed derived table" ->
      ("SELECT a, rn FROM (SELECT a, row_number() OVER (PARTITION BY a " +
        "ORDER BY b) AS rn FROM t WHERE b > 0) WHERE rn <= 2", None))

  windowFilters.foreach { case (shape, (in, expected)) =>
    test(s"window filter, $shape: rewrite is valid Spark SQL") {
      val out = rw(in)
      assert(out == expected.getOrElse(in))
      ClassicConversions.castToImpl(spark).sessionState.sqlParser
        .parsePlan(out)
    }
  }

  test("window filters over a WHERE return the rows Spark's own form does") {
    import spark.implicits._
    Seq((1, 5, 0), (1, 3, 0), (1, 4, 0), (1, -1, 0), (2, 7, 0), (2, 0, 0),
      (3, 2, 0)).toDF("a", "b", "c").createOrReplaceTempView("t")
    try {
      val ranked = "SELECT a, b, row_number() OVER (PARTITION BY a " +
        "ORDER BY b) AS rn FROM t WHERE b > 0"
      def rows(q: String) = spark.sql(q).collect().toSet
      val rankRows = rows(s"SELECT a, rn FROM ($ranked) x WHERE rn <= 2")
      val keptRows = rows(s"SELECT a, b FROM ($ranked) x WHERE rn <= 2")
      assert(rankRows.size == 4 && keptRows.size == 4)
      windowFilters.foreach { case (shape, (in, _)) =>
        val want = if (shape.contains("direct")) keptRows else rankRows
        assert(rows(rw(in)) == want, shape)
      }
    } finally spark.catalog.dropTempView("t")
  }
}
