package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, GraftVector}
import graft.operators.TextOps
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Seeded randomized sweeps over the fused kernels — the fixed-case
  * parity specs catch known edge classes; these hammer the same
  * contracts with 400+ generated inputs per property (deterministic
  * seed, so a failure reproduces). */
class KernelPropertySpec extends SparkSpecBase {

  private def randomStrings(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val alphabets = Seq(
      "abcdefghij XYZ 0123456789", // ascii + digits + case
      "a b  c   d!?.,;:-_()[]",    // punctuation + space runs
      "中文字符テストкирилл ñéü ß",  // multibyte
      " \t\n\u00a0aA1"             // whitespace variants
    )
    (0 until n).map { _ =>
      val ab = alphabets(rnd.nextInt(alphabets.length))
      val len = rnd.nextInt(120)
      (0 until len).map(_ => ab(rnd.nextInt(ab.length))).mkString
    }
  }

  test("norm_prefix equals the regexp chain on 400 seeded random " +
      "strings over mixed alphabets, at three truncation lengths") {
    import spark.implicits._
    val df = randomStrings(400, 0xC0FFEE).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(-1, 1, 50)) {
      val kernel =
        if (n < 0) md5(GraftFunctions.normPrefix(col("text"), lit(-1)))
        else md5(GraftFunctions.normPrefix(col("text"), lit(n)))
      val regexNorm = regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " ")
      val regex =
        if (n < 0) md5(regexNorm) else md5(substring(regexNorm, 1, n))
      val bad = df.select(col("id"), kernel.as("k"), regex.as("r"))
        .where(col("k") =!= col("r")).count()
      assert(bad == 0, s"n=$n: $bad mismatches")
    }
  }

  test("int8 quantization bounds and cosine error on 200 seeded " +
      "random vectors") {
    val rnd = new scala.util.Random(0xBEEF)
    val vecs = (0 until 200).map { i =>
      val d = 1 + rnd.nextInt(96)
      val scale = math.pow(10, rnd.nextInt(7) - 3).toFloat // 1e-3..1e3
      Array.fill(d)((rnd.nextFloat() * 2 - 1) * scale)
    } :+ Array.fill(8)(0.0f) // zero vector edge
    for (v <- vecs) {
      val q = GraftVector.quantize8(new GenericArrayData(v))
      var i = 0
      while (i < q.numElements()) {
        assert(q.getByte(i) >= -127 && q.getByte(i) <= 127)
        i += 1
      }
      if (v.forall(_ == 0.0f))
        assert((0 until q.numElements()).forall(q.getByte(_) == 0))
    }
    // pairwise cosine error: the prefilter contract assumes ~1e-2
    var worst = 0.0
    for (i <- 0 until 60; j <- i + 1 until 60
         if vecs(i).length == vecs(j).length) {
      val a = new GenericArrayData(vecs(i))
      val b = new GenericArrayData(vecs(j))
      val exact = GraftVector.cosine(a, b)
      val approx = GraftVector.cosineQ8(
        GraftVector.quantize8(a), GraftVector.quantize8(b))
      worst = math.max(worst, math.abs(exact - approx))
    }
    assert(worst < 0.02, s"int8 cosine error $worst exceeds the " +
      "prefilter margin assumption")
  }

  test("normFingerprint/leadFingerprint agree with the DuckDB-side " +
      "formulation on the real corpus (sampled)") {
    Queries.prep(spark, sfDir)
    val d = spark.table("documents").limit(200)
    val bad = d.select(
        TextOps.normFingerprint(col("text")).as("k"),
        md5(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " ")).as("r"),
        TextOps.leadFingerprint(col("text"), 50).as("kl"),
        md5(substring(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " "), 1, 50)).as("rl"))
      .where(col("k") =!= col("r") || col("kl") =!= col("rl")).count()
    assert(bad == 0)
  }

  /** Generated dup-heavy corpus: word sequences with planted shared
    * runs, so the span kernels have real work at every seed. */
  private def dupCorpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val runs = (0 until 8).map(r =>
      (0 until 10 + rnd.nextInt(6)).map(i => s"run${r}w$i").mkString(" "))
    (0 until n).map { i =>
      val parts = (0 until 1 + rnd.nextInt(4)).flatMap { _ =>
        if (rnd.nextBoolean()) Seq(runs(rnd.nextInt(runs.length)))
        else (0 until 5 + rnd.nextInt(20)).map(_ => s"u${rnd.nextInt(5000)}")
      }
      (i.toLong, parts.mkString(" "))
    }
  }

  test("exactSubstrDedup is invariant to input partitioning and " +
      "shuffle-partition count on a seeded dup-heavy corpus") {
    import spark.implicits._
    val data = dupCorpus(300, 0xD00D)
    def run(parts: Int, shuffle: String): Map[Long, (Long, Long, String)] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        TextOps.exactSubstrDedup(
            data.toDF("doc_id", "text").repartition(parts),
            "doc_id", "text", n = 8)
          .collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = run(4, "8")
    assert(base.exists(_._2._1 > 0), "corpus should contain dup spans")
    assert(run(1, "8") == base)
    assert(run(32, "3") == base)
  }

  test("spanCorrupt is invariant to input partitioning and " +
      "reconstruction holds on 300 seeded docs") {
    import spark.implicits._
    val data = dupCorpus(300, 0xFACE)
    def run(parts: Int): Map[Long, (Long, Long, String, String)] =
      TextOps.spanCorrupt(
          data.toDF("doc_id", "text").repartition(parts),
          "doc_id", "text", spanLen = 3, gateMod = 5)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
        .toMap
    val base = run(4)
    assert(base.exists(_._2._1 > 0))
    assert(run(17) == base)
    // reconstruction on every doc (same invariant as the fixed spec,
    // here across the random corpus)
    val sentinel = "<extra_id_(\\d+)>".r
    data.foreach { case (id, text) =>
      val (_, _, corr, tgt) = base(id)
      val spans = if (tgt.isEmpty) Map.empty[Int, String] else
        tgt.split("<extra_id_").filter(_.nonEmpty).map { s =>
          val Array(k, rest) = s.split(">", 2)
          k.toInt -> rest.trim
        }.toMap
      val rebuilt = sentinel.replaceAllIn(corr, m => spans(m.group(1).toInt))
      assert(rebuilt == text, s"doc $id")
    }
  }

  test("hardNegatives is invariant to input partitioning and " +
      "shuffle-partition count on 300 seeded labeled vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xABBA)
    val data = (0 until 300).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextInt(200) - 100).toFloat),
        i % 7)
    }
    def run(parts: Int, shuffle: String): Seq[Row] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        val df = data.toDF("vec_id", "embedding", "label")
          .repartition(parts)
        graft.operators.EmbeddingOps.hardNegatives(df,
            df.where(col("vec_id") < 20), "vec_id", "embedding", "label")
          .orderBy("qid").collect().toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = run(4, "8")
    assert(base.length == 20)
    assert(run(1, "8") == base)
    assert(run(23, "3") == base)
  }

  test("bitext margin mining encoded top-4 equals the window " +
      "formulation and is partitioning-invariant (catalog entry on a " +
      "seeded shuffle)") {
    // the catalog kernel (q220) over the real embeddings table must
    // produce identical rows regardless of how the source is split
    Queries.prep(spark, sfDir)
    def run(shuffle: String): Seq[Row] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        SparkEntry.queries("q220_bitext_margin_mining")(spark, sfDir)
          .collect().toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = run("8")
    assert(base.nonEmpty)
    assert(run("3") == base)
  }

  /** Short seeded token docs over a small pool, so n-token windows
    * repeat often: multi-byte tokens, empty tokens (double, leading and
    * trailing spaces) and docs shorter than n. */
  private def tokenDocs(count: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val pool = Seq("a", "b", "c", "ß", "中文", "テスト", "ñé", "x1",
      new String(Character.toChars(0x1f600)))
    (0 until count).map { i =>
      val toks = (0 until rnd.nextInt(14)).map(_ =>
        if (rnd.nextInt(8) == 0) "" else pool(rnd.nextInt(pool.size)))
      (i.toLong, toks.mkString(" "))
    }
  }

  private def words(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
  }

  /** The md5-prefix shingle fingerprint as SQL: the formulation the
    * kernel replaced and the DuckDB oracle computes. */
  private def sqlFingerprints(n: Int) = expr(
    s"""CASE WHEN size(words) >= $n THEN transform(
       |  sequence(1, size(words) - ${n - 1}),
       |  i -> CAST(conv(substring(md5(array_join(slice(words, i, $n),
       |    ' ')), 1, 12), 16, 10) AS BIGINT))
       |ELSE array() END""".stripMargin)

  /** Exact-substring rollup as the window formulation the span kernel
    * replaced: every token exploded and left-joined to its doc's
    * duplicated starts (1-based `p`), a sliding-window max for coverage,
    * a lag for span starts, a sorted collect for the kept text. */
  private def windowRollup(w: org.apache.spark.sql.DataFrame,
      dupStarts: org.apache.spark.sql.DataFrame, n: Int) = {
    import org.apache.spark.sql.expressions.Window
    val toks = w.select(col("doc_id"),
        posexplode(col("words")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("word"))
    val slide = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(n - 1), Window.currentRow)
    val seq0 = Window.partitionBy("doc_id").orderBy("p")
    toks.join(dupStarts.select(col("doc_id"), col("p"), lit(1).as("isdup")),
        Seq("doc_id", "p"), "left")
      .na.fill(0, Seq("isdup"))
      .withColumn("cov", max("isdup").over(slide))
      .withColumn("span_start", (col("cov") === 1 &&
        coalesce(lag("cov", 1).over(seq0), lit(0)) === 0).cast("int"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("cov").cast("long").as("n_removed"),
        sum("span_start").cast("long").as("n_spans"),
        concat_ws(" ", expr(
          """transform(filter(
            |  sort_array(collect_list(struct(p, cov, word))),
            |  x -> x.cov = 0), x -> x.word)""".stripMargin))
          .as("kept_text"))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("shingle_fps is bit-identical to the SQL md5-prefix fingerprint " +
      "on seeded docs: multi-byte and empty tokens, docs shorter than n") {
    val docs = tokenDocs(400, 0xF1D0) ++
      randomStrings(200, 0xF1D1).zipWithIndex.map { case (t, i) =>
        (1000L + i, t) }
    val w = words(docs)
    for (n <- Seq(2, 3, 8)) {
      val got = w.select(col("doc_id"),
        GraftFunctions.shingleFps(col("words"), lit(n)).as("k"),
        sqlFingerprints(n).as("r"))
      assert(got.where(size(col("k")) > 0).count() > 100, s"n=$n")
      val bad = got.where(!(col("k") === col("r"))).collect()
      assert(bad.isEmpty, s"n=$n: ${bad.take(3).mkString("; ")}")
    }
  }

  test("span_rollup equals the window formulation on seeded docs with " +
      "random duplicated starts: overlapping and adjacent windows, " +
      "n = 2, 3, 5") {
    import spark.implicits._
    val fixed = Seq(
      (9001L, "a b c d e f g h"),   // adjacent windows at 0 and n
      (9002L, "a b c d e f g h"),   // overlapping windows at 0 and 1
      (9003L, "a"),                 // shorter than every n
      (9004L, "a  b   c d"))        // empty tokens inside a window
    val docs = tokenDocs(300, 0x5BA2) ++ fixed
    val multiSpan = Seq(2, 3, 5).map { n =>
      val rnd = new scala.util.Random(n)
      val starts = docs.flatMap { case (id, text) =>
        val len = text.split(" ", -1).length
        id match {
          case 9001L => Seq(id -> 0, id -> n).filter(_._2 <= len - n)
          case 9002L => Seq(id -> 0, id -> 1)
          case 9004L => Seq(id -> 1)
          case _ => (0 to len - n).filter(_ => rnd.nextInt(10) < 3)
            .map(id -> _)
        }
      }.toDF("doc_id", "p")
      val w = words(docs)
      val kernel = w.join(starts.groupBy("doc_id")
          .agg(collect_list("p").as("starts")), Seq("doc_id"), "left")
        .select(col("doc_id"), GraftFunctions.spanRollup(col("words"),
          col("starts"), lit(n)).as("r"))
        .select("doc_id", "r.*")
      val reference = windowRollup(w,
        starts.select(col("doc_id"), (col("p") + 1).as("p")), n)
      assert(sortedRows(kernel) == sortedRows(reference), s"n=$n")
      kernel.where(col("n_spans") > 1).count()
    }
    assert(multiSpan.sum > 10, s"docs with two or more spans: $multiSpan")
  }

  test("exactSubstrDedup and exactSubstrDedupAgainst equal the string-SQL " +
      "and window plan they replaced on seeded corpora") {
    import spark.implicits._
    def sqlStarts(w: org.apache.spark.sql.DataFrame, n: Int) =
      w.select(col("doc_id"), posexplode(sqlFingerprints(n))
        .as(Seq("p0", "fp")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("fp"))
    def reference(docs: Seq[(Long, String)], n: Int) = {
      val w = words(docs)
      val starts = sqlStarts(w, n)
      val dupFp = starts.groupBy("fp").count().where(col("count") >= 2)
      windowRollup(w, starts.join(dupFp, "fp"), n)
    }
    def referenceAgainst(corpus: Seq[(Long, String)],
        batch: Seq[(Long, String)], n: Int) = {
      val bw = words(batch)
      windowRollup(bw, sqlStarts(bw, n).join(
        sqlStarts(words(corpus), n).select("fp").distinct(), "fp"), n)
    }
    val cases = Seq(tokenDocs(300, 0xE5A1) -> 2, tokenDocs(300, 0xE5A2) -> 3,
      dupCorpus(200, 0xE5A3) -> 8)
    for ((docs, n) <- cases) {
      val got = TextOps.exactSubstrDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", n)
      assert(sortedRows(got) == sortedRows(reference(docs, n)), s"n=$n")
      val (corpus, batch) = docs.partition(_._1 % 3 != 0)
      val against = TextOps.exactSubstrDedupAgainst(
        corpus.toDF("doc_id", "text"), batch.toDF("doc_id", "text"),
        "doc_id", "text", n)
      assert(sortedRows(against) ==
        sortedRows(referenceAgainst(corpus, batch, n)), s"against, n=$n")
    }
  }
}
