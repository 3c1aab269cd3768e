package graft

import org.apache.spark.sql.functions._
import graft.operators.RetrievalOps

/** Chunk/embed/retrieve semantics (the reference's doc_retriever.py flow):
  * boundaries, overlap, minimum-one-chunk, stub determinism, and ranking
  * sanity. Cross-engine values are covered by the q60/q61 oracles. */
class RetrievalOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "a" * 1000),       // 1000 chars → chunks at 1, 451, 901
    (2L, "b" * 500),        // exactly one window
    (3L, "short"),          // under one window
    (4L, "")                // empty doc still yields one (empty) chunk
  ).toDF("doc_id", "text")

  test("chunking: 500-char windows every 450, min one chunk") {
    val c = RetrievalOps.chunkDocuments(docs, "doc_id", "text")
      .select($"doc_id", $"chunk_idx", length($"chunk").as("len"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(c == Set(
      (1L, 0, 500), (1L, 1, 500), (1L, 2, 100),
      (2L, 0, 500), (3L, 0, 5), (4L, 0, 0)))
  }

  test("consecutive chunks overlap by 50 chars") {
    val text = (0 until 1000).map(i => ('a' + i % 26).toChar).mkString
    val chunks = RetrievalOps.chunkDocuments(
        Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("chunk_idx").select("chunk").as[String].collect()
    assert(chunks(0).takeRight(50) == chunks(1).take(50))
    assert(chunks(1).takeRight(50) == chunks(2).take(50))
  }

  test("stub embedding is deterministic and dimension-stable") {
    val e = RetrievalOps.chunkDocuments(docs, "doc_id", "text")
      .select(RetrievalOps.stubEmbed($"chunk").as("emb"))
    val a = e.collect().map(_.getSeq[Double](0))
    val b = e.collect().map(_.getSeq[Double](0))
    assert(a.toSeq == b.toSeq)
    assert(a.forall(_.length == 16))
    assert(a.forall(_.forall(v => v >= 0 && v < 97 && v == v.floor)))
  }

  test("retrieveTopN ranks the identical chunk first") {
    // corpus contains the query's own text under a different id: that
    // chunk maximizes the dot product against the query vector
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content here entirely"),
      (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val emb = RetrievalOps.chunkDocuments(corpus, "doc_id", "text")
      .select($"doc_id", $"chunk_idx",
        RetrievalOps.stubEmbed($"chunk").as("emb"))
    val queries = emb.where($"doc_id" === 1)
      .select($"doc_id".as("qdoc"), $"chunk_idx".as("qidx"), $"emb")
    val top = RetrievalOps.retrieveTopN(emb, Seq("doc_id", "chunk_idx"),
        queries, Seq("qdoc", "qidx"), "emb", 2)
      .orderBy("rn").select("doc_id").as[Long].collect()
    assert(top.head == 3L)
  }

  test("BatchedEmbedder is bit-identical to the column StubEmbedder") {
    // the injectable model-server path must not change the math: swap-in
    // contract is exactly one function (encode)
    val chunks = RetrievalOps.chunkDocuments(docs, "doc_id", "text")
    def rows(e: RetrievalOps.Embedder) =
      e.embed(chunks, "chunk", "emb")
        .select($"doc_id", $"chunk_idx", $"emb")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toList))
        .sortBy(t => (t._1, t._2)).toList
    val colPath = rows(new RetrievalOps.StubEmbedder(16))
    val batched = rows(new RetrievalOps.BatchedEmbedder(16, batchSize = 3))
    assert(colPath == batched)
    assert(colPath.nonEmpty && colPath.head._3.length == 16)
  }

  test("HttpEmbedder round-trips batches through a loopback server, " +
      "matches the stub bit-for-bit, batches calls, and rejects a " +
      "miscounted response; embedderFromConf stays inert offline") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val calls = new java.util.concurrent.atomic.AtomicInteger
    def handler(drop: Boolean): com.sun.net.httpserver.HttpHandler = { ex =>
      calls.incrementAndGet()
      val req = mapper.readTree(ex.getRequestBody)
      val texts = (0 until req.get("texts").size()).map { i =>
        val t = req.get("texts").get(i)
        if (t.isNull) null else t.asText()
      }
      // loopback model speaking the stub function, so the whole HTTP
      // round trip is checkable against the in-process embedder
      val embs = RetrievalOps.stubEncodeBatch(texts, req.get("dim").asInt())
      val resp = mapper.createObjectNode()
      val arr = resp.putArray("embeddings")
      embs.take(if (drop) embs.size - 1 else embs.size).foreach { e =>
        val v = arr.addArray(); e.foreach(v.add)
      }
      val bytes = mapper.writeValueAsBytes(resp)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/embed", handler(drop = false))
    server.createContext("/bad", handler(drop = true))
    server.start()
    try {
      val port = server.getAddress.getPort
      val many = spark.range(40)
        .select(col("id"), concat(lit("doc text "), col("id")).as("text"))
      val http = new RetrievalOps.HttpEmbedder(
        s"http://127.0.0.1:$port/embed", dim = 16, batchSize = 8)
      val got = http.embed(many, "text").orderBy("id")
        .collect().map(_.getSeq[Double](2)).toSeq
      val stub = new RetrievalOps.BatchedEmbedder(16).embed(many, "text")
        .orderBy("id").collect().map(_.getSeq[Double](2)).toSeq
      assert(got == stub)
      assert(calls.get() < 40, s"calls=${calls.get()} — not batched")
      // a response with the wrong vector count must fail loudly
      val bad = new RetrievalOps.HttpEmbedder(
        s"http://127.0.0.1:$port/bad", dim = 16, batchSize = 8)
      val ex = intercept[org.apache.spark.SparkException](
        bad.embed(many, "text").collect())
      assert(ex.getMessage.contains("embeddings") ||
        ex.getCause != null)
      // conf seam: unset endpoint → the deterministic stub (no HTTP)
      assert(RetrievalOps.embedderFromConf(spark)
        .isInstanceOf[RetrievalOps.BatchedEmbedder])
    } finally server.stop(0)
  }

  test("null text embeds identically (all zeros) on both paths") {
    val df = Seq((1L, Option("abc")), (2L, Option.empty[String]))
      .toDF("doc_id", "chunk")
    def vecs(e: RetrievalOps.Embedder) =
      e.embed(df, "chunk", "emb").orderBy("doc_id")
        .select("emb").as[Seq[Double]].collect().toList
    val c = vecs(new RetrievalOps.StubEmbedder(8))
    val b = vecs(new RetrievalOps.BatchedEmbedder(8, batchSize = 2))
    assert(c == b)
    assert(c(1) == Seq.fill(8)(0.0)) // null ⇒ empty-string embedding
  }

  /** Five docs for BM25: docs 2 and 5 hold the same terms at the same
    * length, so they tie on every score; doc 3 holds no query term. */
  private def bm25Docs = Seq(
    (1L, "hash join hash"), (2L, "merge join"), (3L, "nothing here at all"),
    (4L, "join"), (5L, "join merge")).toDF("doc_id", "text")

  /** Okapi BM25 by hand over `docs` (k1 = 1.2, b = 0.75, Lucene idf,
    * terms summed in query order), rounded to 6 dp: (doc_id, score,
    * n_terms_hit) for every doc holding a term, best first. */
  private def handBm25(docs: Seq[(Long, String)],
      terms: Seq[String]): Seq[(Long, Double, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val nDocs = toks.size.toDouble
    val sumDl = toks.map(_._2.size).sum.toDouble
    val df = terms.map(t => t -> toks.count(_._2.contains(t))).toMap
    toks.flatMap { case (id, ws) =>
      val hit = terms.filter(ws.contains)
      if (hit.isEmpty) None
      else {
        val s = hit.map { t =>
          val tf = ws.count(_ == t).toDouble
          val idf = math.log(1.0 + (nDocs - df(t) + 0.5) / (df(t) + 0.5))
          idf * (tf * (1.2 + 1.0) /
            (tf + 1.2 * (0.25 + 0.75 * ws.size * nDocs / sumDl)))
        }.reduce(_ + _)
        Some((id, graft.functions.GraftVector.duckRound(s, 6),
          hit.size.toLong))
      }
    }.sortBy { case (id, s, _) => (-s, id) }
  }

  private def bm25Rows(terms: Seq[String], n: Int) =
    RetrievalOps.bm25TopN(bm25Docs, "doc_id", "text", terms, n)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getInt(3))).sortBy(_._4).toSeq

  test("bm25TopN scores equal hand-computed Okapi scores; a doc without " +
      "any query term never appears, and fewer matches give fewer rows") {
    val docs = bm25Docs.as[(Long, String)].collect().toSeq
    val want = handBm25(docs, Seq("hash", "join", "merge"))
      .zipWithIndex.map { case ((id, s, h), i) => (id, s, h, i + 1) }
    val got = bm25Rows(Seq("hash", "join", "merge"), n = 10)
    assert(got == want)
    assert(got.size == 4 && !got.exists(_._1 == 3L), got)
    assert(bm25Rows(Seq("hash", "join", "merge"), n = 2) == want.take(2))
  }

  test("bm25TopN counts a query term given twice once, and breaks a " +
      "tie on the rounded score by doc_id") {
    val once = bm25Rows(Seq("join", "merge"), n = 10)
    assert(bm25Rows(Seq("join", "merge", "join"), n = 10) == once)
    // docs 2 and 5 tie; 2 ranks first, and a top-3 cut keeps only it
    val tied = once.filter(r => r._1 == 2L || r._1 == 5L)
    assert(tied.map(_._2).distinct.size == 1, once)
    assert(tied.map(_._1) == Seq(2L, 5L) && tied(1)._4 == tied(0)._4 + 1,
      once)
    val top = bm25Rows(Seq("join", "merge"), n = tied(0)._4)
    assert(top.map(_._1).contains(2L) && !top.map(_._1).contains(5L), top)
  }

  test("bm25TopN runs at most 4 Spark jobs, logs no WARN, and plans no " +
      "window") {
    val docs = Tables.load(spark, sfDir, "documents")
    val terms = Seq("hash", "join", "merge", "filter")
    var rows = Seq.empty[org.apache.spark.sql.Row]
    var jobs = Seq.empty[SpecJob]
    val warned = warningsOf {
      jobs = jobsOf {
        rows = RetrievalOps.bm25TopN(docs, "doc_id", "text", terms, 10)
          .collect().toSeq
      }
    }
    assert(rows.size == 10 && rows.map(_.getInt(3)).sorted == (1 to 10))
    assert(jobs.size <= 4, jobs.map(j => s"job ${j.id}: " +
      j.stages.headOption.map(_.linesIterator.next()).getOrElse(""))
      .mkString("\n"))
    assert(warned.isEmpty, warned.mkString("\n"))
    val plan = RetrievalOps.bm25TopN(docs, "doc_id", "text", terms, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }
}
