package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming operators over the events stream (ts, user_id,
  * event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §1.1) — this is the north-star
  * extension: the same event analytics expressed as an unbounded stream.
  * Design: event-time windows + watermarks (not processing time), state
  * kept per-key in the state store, `Trigger.AvailableNow` for the
  * batch-replay entry points so results are deterministic and comparable
  * to a batch SQL oracle over the same files.
  *
  * Scale notes: windowed aggregation shuffles once on (window, key) and
  * keeps only open windows in state (watermark bounds state size);
  * sessionization state is one small case class per active user, dropped
  * on timeout — both survive unbounded input on a real cluster.
  */
object StreamingOps {

  /** Runs `body` with the session's shuffle-partition count pinned to
    * `n`, restoring it afterwards. Streaming aggregations freeze their
    * state-store partition count at the first checkpoint; every state
    * partition is a live store instance with its own checkpoint I/O, so
    * the count should track state size (number of open windows / active
    * keys), NOT the batch shuffle width — 32 stores for a few thousand
    * windows is pure per-instance overhead. At real corpus scale pass a
    * larger `n` sized to key cardinality. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)
      (body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Event-time hourly counts per event_type, computed as a stream over
    * the parquet directory and drained with AvailableNow. Identical to
    * the batch `GROUP BY date_trunc('hour', ts), event_type` answer once
    * the stream is fully consumed — that equivalence IS the oracle.
    *
    * Output mode is Complete — required for the full-history answer on a
    * bounded replay, and under Complete the watermark does NOT evict
    * window state. An open-ended production deployment of this exact
    * aggregation should switch to Append (windows finalize and state
    * evicts as the watermark passes) and accept that the trailing
    * watermark-delay of windows flushes only with further input. */
  def windowedEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // file-stream sources take a directory; narrow to the events file
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .transform(graft.Tables.normalizeEventTs)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // DECIMAL sum: order-independent, so stream == batch bit-exactly
      // regardless of micro-batch boundaries or partitioning
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

    val name = s"stream_counts_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = stream.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainSink(spark, name, Seq("hour", "event_type"))
  }

  /** Stream-static enrichment join: the event stream joins a STATIC
    * dimension table — the canonical streaming-enrich shape. No join
    * state and no watermark are needed on the static side; Spark
    * broadcasts the dimension into every micro-batch, so at cluster
    * scale the stream never shuffles for the join. DECIMAL partials
    * keep stream == batch bit-exact at any micro-batch slicing. */
  def enrichedStreamAgg(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val dim = broadcast(spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey")))
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))

    val name = s"stream_enrich_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = stream.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainSink(spark, name, Seq("c_nationkey"))
  }

  /** Materializes a memory-sink table and drops the sink, so repeated
    * invocations in one session don't accumulate sink tables (each holds
    * the full result set on the driver). */
  private def drainSink(spark: SparkSession, name: String,
      sortCols: Seq[String]): DataFrame = {
    val out = spark.table(name)
      .orderBy(sortCols.map(col): _*).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    spark.streams.resetTerminated()
    out
  }

  /** Streaming exactly-once dedup: the input is deliberately duplicated
    * (every event delivered twice, the at-least-once shape of real
    * ingestion), then `dropDuplicatesWithinWatermark` on the event key
    * collapses redeliveries inside the watermark horizon. Drained with
    * AvailableNow, the result equals batch `SELECT DISTINCT` — that
    * equivalence is the oracle. State is one entry per key inside the
    * watermark, dropped as the watermark advances — bounded on an
    * unbounded stream. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val duplicated = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .transform(graft.Tables.normalizeEventTs)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("__copy", explode(array(lit(1), lit(2))))
      .drop("__copy")
      .withWatermark("ts", "1 hour")
      // full-row key: equals batch DISTINCT even if an event_id ever
      // collides with different attributes
      .dropDuplicatesWithinWatermark("event_id", "user_id", "event_type",
        "ts")

    val name = s"stream_dedup_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = duplicated.writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainSink(spark, name, Seq("event_id"))
  }

  /** One LSH bucket's remembered members: (doc id, full signature). */
  case class NearDupBucket(docs: Seq[(Long, Seq[Long])])

  /** A verified near-duplicate pair (unordered, id_a < id_b). */
  case class NearDupPair(id_a: Long, id_b: Long, n_agree: Int)

  /** Streaming MinHash near-duplicate pair detection — continuous-
    * ingestion dedup: as documents arrive, each is checked against every
    * previously seen document that shares an LSH band bucket, and pairs
    * whose signatures agree on at least `minAgree` of `k` positions are
    * emitted. The batch q42 pipeline answers "which near-dup pairs exist
    * in this corpus"; this answers the production question "is the
    * arriving document a near-dup of ANYTHING seen so far" without
    * re-scanning the corpus.
    *
    * Mechanics: the portable md5 MinHash signature
    * ([[graft.functions.GraftHash.minhashMd5Sig]]) is banded into
    * `bands` groups of k/bands positions; rows are keyed by
    * (band, band-slice) and flatMapGroupsWithState keeps each bucket's
    * (id, signature) members. A new member compares against remembered
    * members plus earlier new members (id-sorted, so in-batch emission
    * is deterministic), emitting the agreement count. A pair sharing
    * several buckets is emitted from each — the entry's final
    * `.distinct()` collapses them (the counts are identical by
    * construction).
    *
    * Scale shape: state is per-bucket membership — proportional to the
    * corpus, like any exact incremental dedup index (the batch analogue
    * of a warehouse's persisted signature table). Hot boilerplate
    * buckets are the quadratic risk exactly as in batch LSH; a
    * production deployment caps per-bucket membership (dropping
    * verification against boilerplate buckets, q42's maxBucket
    * discipline) — kept exact here because the entry is oracle-checked
    * against the full quadratic-within-bucket definition.
    *
    * The md5 signature discipline makes the WHOLE operator
    * value-checkable in DuckDB (q186): signatures, banding, candidate
    * generation and agreement verification all reproduce in plain SQL. */
  def streamNearDupPairs(spark: SparkSession, sfDir: String,
      k: Int = 16, bands: Int = 8, minAgree: Int = 8): DataFrame = {
    import spark.implicits._
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val docsSchema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    // the signature is ~600 md5 calls per doc and the corpus arrives
    // as ONE parquet file (a single scan partition at any sf) — spread
    // the rows across the session's cores BEFORE hashing, or the whole
    // drain runs the hash single-threaded (measured 32.9 s → 6.5 s at
    // sf3sv's 150k docs)
    val par = spark.sparkContext.defaultParallelism
    val banded = spark.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(col("doc_id").as("id"), col("text"))
      .repartition(par)
      .select(col("id"),
        graft.functions.GraftFunctions.minhashMd5(
          graft.operators.TextOps.wordShingles(col("text"), 3), lit(k))
          .as("sig"))
      .select(col("id"), col("sig"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), i -> slice(sig, i*$r + 1, $r))"))
          .as(Seq("band", "bh")))
      .as[(Long, Seq[Long], Int, Seq[Long])]

    val pairs = banded
      .groupByKey { case (_, _, band, bh) => (band, bh) }
      .flatMapGroupsWithState[NearDupBucket, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          val out = Seq.newBuilder[NearDupPair]
          var seen = state.getOption.map(_.docs).getOrElse(Seq.empty)
          // id-sort the batch slice so in-batch pair emission does not
          // depend on partition iteration order
          rows.map { case (id, sig, _, _) => (id, sig) }
            .toVector.sortBy(_._1)
            .foreach { case (id, sig) =>
              seen.foreach { case (oid, osig) =>
                if (oid != id) {
                  var n = 0; var j = 0
                  while (j < sig.length) {
                    if (sig(j) == osig(j)) n += 1
                    j += 1
                  }
                  if (n >= minAgree)
                    out += NearDupPair(math.min(id, oid),
                      math.max(id, oid), n)
                }
              }
              seen = seen :+ ((id, sig))
            }
          state.update(NearDupBucket(seen))
          out.result().iterator
      }

    val name = s"stream_neardup_${System.nanoTime()}"
    // bucket-pair state work scales with the corpus — give it the
    // session's parallelism (fresh memory sink per call: no sticky
    // checkpointed partition count to respect)
    withStatePartitions(spark, math.max(8, par)) {
      val q = pairs.toDF().writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // a pair found in several bands surfaces once per band: collapse
    drainSink(spark, name, Seq("id_a", "id_b")).distinct()
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * clicks from the preceding `windowMinutes` — the attribution window
    * (the batch dual is SparkEntry q75). Both sides are watermarked and
    * the join condition bounds event-time in BOTH directions, so Spark
    * evicts join state as the watermark advances — state stays
    * proportional to the window, not the stream, on unbounded input.
    * Drained with AvailableNow the result equals the batch range join —
    * that equivalence is the oracle. */
  def streamIntervalJoin(spark: SparkSession, sfDir: String,
      windowMinutes: Int = 30): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    def side(eventType: String, prefix: String) = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .transform(graft.Tables.normalizeEventTs)
      .where(col("event_type") === eventType)
      .select(col("user_id").as(s"${prefix}_user"),
        col("ts").as(s"${prefix}_ts"), col("event_id").as(s"${prefix}_id"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("purchase", "p").join(side("click", "c"),
      expr(s"""p_user = c_user
              |AND c_ts >= p_ts - INTERVAL $windowMinutes MINUTES
              |AND c_ts <= p_ts""".stripMargin))
      .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"))

    val name = s"stream_ijoin_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = joined.writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainSink(spark, name, Seq("purchase_id", "click_id"))
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, events: Int,
      closed: List[(Long, Long, Int)])
  case class UserSessions(user_id: Long, n_sessions: Long,
      total_events: Long)

  /** Per-user session counts (gap-based sessionization) via
    * flatMapGroupsWithState — the custom-state streaming operator the
    * built-in window functions can't express incrementally. Drained with
    * AvailableNow and ProcessingTimeTimeout unused (deterministic replay):
    * state flushes at the final batch via the iterator-end path. For the
    * driver-contract entry the batch gaps-and-islands SQL is the oracle
    * (see PipelineQueries q53); StreamingSpec asserts stream == batch. */
  def sessionCounts(spark: SparkSession, sfDir: String,
      gapMinutes: Int): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val gapMs = gapMinutes * 60000L

    val events: Dataset[SessionEvent] = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .transform(graft.Tables.normalizeEventTs)
      .select(col("user_id"), col("ts"))
      .as[SessionEvent]

    def update(user: Long, evs: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[UserSessions] = {
      // Contract: ONE micro-batch delivers the user's whole history
      // (AvailableNow over a bounded directory — the deterministic-replay
      // entry point). A second batch for the same user would silently
      // re-emit per-batch counts, so the state is used as a tripwire:
      // fail loudly instead of double-counting. The open-ended
      // incremental variant needs event-time timeouts + watermark and
      // has different flush timing; it is intentionally not this API.
      if (state.exists)
        throw new IllegalStateException(
          s"sessionCounts saw user $user in a second micro-batch; " +
            "this entry point requires single-batch bounded replay")
      val ts = evs.map(_.ts.getTime).toArray.sorted
      if (ts.isEmpty) Iterator.empty
      else {
        state.update(SessionState(ts.head, ts.last, ts.length, Nil))
        var sessions = 1L
        var i = 1
        while (i < ts.length) {
          if (ts(i) - ts(i - 1) > gapMs) sessions += 1
          i += 1
        }
        Iterator.single(UserSessions(user, sessions, ts.length.toLong))
      }
    }

    val name = s"stream_sessions_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.NoTimeout())(update)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainSink(spark, name, Seq("user_id"))
  }

  /** Streaming count-min sketch: the 4×512 md5-derived counter table
    * (q159's family) maintained as a stateful streaming aggregation
    * keyed on (hour window, row, column). Streaming state is
    * SKETCH-sized — open windows × 2048 cells — not key-cardinality
    * sized, which is the point of sketching an unbounded stream: a
    * per-user exact count would grow state with the user population,
    * the sketch's is constant per window. Counts are integers, so the
    * drained cells equal the batch-built sketch exactly at any
    * micro-batch slicing; the returned frame scores each hour's exact
    * top-3 users (batch side) against the sketch estimate read from
    * the drained cells — estimates can only overshoot (collisions). */
  def streamingCountMin(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val cells = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .transform(graft.Tables.normalizeEventTs)
      .withWatermark("ts", "1 hour")
      .select(col("ts"), col("user_id"),
        explode(array((0 to 3).map(lit(_)): _*)).as("j"))
      .withColumn("c",
        expr("CAST(conv(substring(md5(concat(CAST(j AS STRING), '|', " +
          "CAST(user_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 512"))
      .groupBy(window(col("ts"), "1 hour"), col("j"), col("c"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("j"), col("c"),
        col("n"))
    val name = s"stream_cms_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = cells.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // drained cells are already localCheckpoint'ed by drainSink; bind
    // through the shared release mechanism so repeated invocations
    // don't stack the previous run's blocks
    graft.PipelineQueries.bindCheckpointView(spark, "graft_q162_cells",
      drainSink(spark, name, Seq("hour", "j", "c")))
    spark.sql(
      """WITH e AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    user_id FROM events),
        |ex AS (SELECT hour, user_id, count(*) AS exact_n FROM e
        |       GROUP BY hour, user_id),
        |top AS (SELECT hour, user_id, exact_n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY hour
        |    ORDER BY exact_n DESC, user_id) AS rn FROM ex) z
        |  WHERE rn <= 3),
        |lk AS (
        |  SELECT top.hour, top.user_id, top.exact_n, j,
        |    CAST(conv(substring(md5(concat(CAST(j AS STRING), '|',
        |      CAST(top.user_id AS STRING))), 1, 4), 16, 10) AS BIGINT)
        |      % 512 AS c
        |  FROM top LATERAL VIEW explode(array(0, 1, 2, 3)) x AS j)
        |SELECT lk.hour, lk.user_id,
        |  CAST(max(lk.exact_n) AS BIGINT) AS exact_n,
        |  CAST(min(cl.n) AS BIGINT) AS cms_est
        |FROM lk JOIN graft_q162_cells cl
        |  ON lk.hour = cl.hour AND lk.j = cl.j AND lk.c = cl.c
        |GROUP BY lk.hour, lk.user_id
        |ORDER BY lk.hour, exact_n DESC, lk.user_id""".stripMargin)
  }

  /** Streaming Bloom-prefiltered ingestion dedup — the continuous form
    * of [[graft.operators.TextOps.bloomNewDocs]]: the standing index's
    * fingerprint sketch is computed OFFLINE on the static side (the
    * deployment shape: the sketch ships with the index) and applied to
    * the arriving stream as a STATELESS map filter, so definitely-new
    * documents flow through with zero state and zero join; only the
    * might-contain sliver takes the stream-static confirm join. Spark
    * supports stream-static inner/left-outer/left-semi but not
    * left-anti, so the exact confirm is a left-outer against the
    * DISTINCT seen-fingerprint table with a null-marker filter —
    * identical semantics, and the distinct() keeps the join from
    * multiplying candidates. Drained with AvailableNow the output
    * equals the batch anti-join (q188's oracle). */
  def streamBloomDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def fp(c: org.apache.spark.sql.Column) =
      graft.operators.TextOps.leadFingerprint(c, 50)
    val seenFps = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(fp(col("text")).as("fp")).distinct()
      .localCheckpoint() // index-side state: computed once, reused by
                         // the sketch build and every micro-batch's join
    val bloomBytes = seenFps
      .select(toCol(new BloomFilterAggregate(toExpr(xxhash64(col("fp"))),
        Literal(1L << 16), Literal(1L << 19)).toAggregateExpression())
        .as("bf"))
      .head.getAs[Array[Byte]](0)
    val stream = spark.readStream
      .schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .where(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), fp(col("text")).as("fp"))
    val survivors =
      if (bloomBytes == null) stream // empty index: everything is new
      else {
        val might = toCol(BloomFilterMightContain(
          Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
          toExpr(xxhash64(col("fp")))))
        stream.where(!might).unionByName(
          stream.where(might)
            .join(seenFps.withColumn("__seen", lit(1)), Seq("fp"),
              "left_outer")
            .where(col("__seen").isNull).drop("__seen")
            .select(col("doc_id"), col("fp")))
      }
    val name = s"stream_bloom_${System.nanoTime()}"
    val q = survivors.writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drainSink(spark, name, Seq("doc_id"))
  }

  /** Streaming MEDIA ingestion: PNG files land in a directory (the
    * object-store drop-zone shape) and a `binaryFile` file stream
    * decodes each with the real JDK codec as it arrives — stateless
    * per-file map work — then maintains corpus-level integer pixel
    * statistics. The decode is the same kernel as the batch paths
    * (q54/q192), so the drained AvailableNow result equals the
    * independently precomputed fixture stats exactly: streaming
    * ingestion is held to the identical cross-stack oracle as batch.
    * File-level parallelism is the scan's (binaryFile splits by file);
    * the only state is the global aggregate. */
  def streamMediaIngest(spark: SparkSession): DataFrame = {
    val dir = "/tmp/graft_media_files"
    // materialize the file tree from the fixture (idempotent,
    // fingerprint-keyed — see imageFilesTable)
    graft.operators.MediaOps.imageFilesTable(spark, dir).count()
    val schema = spark.read.format("binaryFile").load(dir).schema
    val decodeUdf = org.apache.spark.sql.functions.udf(
      (b: Array[Byte]) => graft.operators.MediaOps.decodeImageStats(b))
    val stream = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .schema(schema)
      .load(dir)
      .select(decodeUdf(col("content")).as("s"))
      .groupBy()
      .agg(count(lit(1)).as("n_files"),
        sum(col("s.sum_r")).as("total_r"),
        sum(col("s.sum_g")).as("total_g"),
        sum(col("s.sum_b")).as("total_b"),
        sum(col("s.width") * col("s.height")).as("total_px"))
    val name = s"stream_media_${System.nanoTime()}"
    withStatePartitions(spark, 8) {
      val q = stream.writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainSink(spark, name, Seq("n_files"))
  }

  /** Streaming split ROUTING against a standing governance index —
    * the continuous form of the q214 cluster-safe split: the standing
    * corpus (even doc_ids) carries cluster-level split assignments
    * (q94's verified near-dup components, singletons self-clustered);
    * the routing index maps each standing doc's lead fingerprint to
    * its cluster's split. An ARRIVING doc (odd ids, file stream) takes
    * a stateless stream-static left join on its fingerprint: a hit
    * inherits the matched cluster's split (it cannot land opposite its
    * standing near-twin), a miss becomes its own singleton cluster
    * under the same md5 rule. Routing is fingerprint-exact by design —
    * the full pair-graph pass is the batch operator; this is the
    * admission path that keeps the standing governance invariant
    * without recomputing the graph per batch (q188/q208 convention:
    * index-side artifact + batch-side join work only). */
  def streamSplitRouting(spark: SparkSession, sfDir: String,
      trainNibbles: Seq[String], valNibbles: Seq[String]): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def fp(c: org.apache.spark.sql.Column) =
      graft.operators.TextOps.leadFingerprint(c, 50)
    def splitOf(cluster: org.apache.spark.sql.Column) = {
      val nib = substring(
        md5(concat(lit("split:"), cluster.cast("string"))), 1, 1)
      when(nib.isin(trainNibbles: _*), "train")
        .when(nib.isin(valNibbles: _*), "val")
        .otherwise("test")
    }
    val standing = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    // governance banding (see q214): 64x2 bands make the per-pair miss
    // probability ~1e-8 at jac=0.5, so cluster-split leakage from an
    // LSH miss is negligible at scale
    val pairs = graft.operators.TextOps.minhashDupPairs(standing,
      "doc_id", "text", threshold = 0.5, k = 128, b = 64)
    val comp = graft.operators.IterativeOps
      .connectedComponentsStar(pairs, "id_a", "id_b")
    // one split per fingerprint: min cluster when several standing
    // docs share a lead fingerprint (deterministic)
    val index = standing
      .select(col("doc_id"), fp(col("text")).as("fp"))
      .join(comp.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .select(col("fp"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
      .groupBy("fp").agg(min("cluster").as("cluster"))
      .select(col("fp"), splitOf(col("cluster")).as("inherited"))
      .localCheckpoint()
    val stream = spark.readStream
      .schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .where(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), fp(col("text")).as("fp"))
    val routed = stream
      .join(index, Seq("fp"), "left_outer")
      .select(col("doc_id"),
        col("inherited").isNotNull.as("matched"),
        coalesce(col("inherited"), splitOf(col("doc_id"))).as("split"))
    val name = s"stream_route_${System.nanoTime()}"
    val q = routed.writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drainSink(spark, name, Seq("doc_id"))
  }

  /** Exactly-once streaming ingestion INTO the snapshot table — the
    * foreachBatch sink over [[graft.operators.SnapshotOps]]: each
    * micro-batch CAS-commits as one snapshot version carrying a
    * `#txn.<streamId>:<batchId>` watermark, so the sink is idempotent
    * under foreachBatch's at-least-once contract (a restarted query
    * re-offering its last epoch skips without writing a byte — the
    * Delta/Iceberg streaming-sink model). The source is chunked into
    * `chunks` files and consumed one file per trigger, so the table's
    * version history IS the batch history; per-file doc_id bounds land
    * in each commit's manifest, so the committed table is immediately
    * range-prunable. Returns (tableDir, versions, replaySkipped). */
  def streamSnapshotSink(spark: SparkSession, sfDir: String,
      scratch: String, chunks: Int): (String, Int, Boolean) = {
    import graft.operators.SnapshotOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val srcDir = s"$scratch/chunks"
    docs.repartitionByRange(chunks, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val table = s"$scratch/table"
    val streamId = "docs_ingest"
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    var lastBatch = -1L
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        SnapshotOps.commitAppend(spark, table, batch.toDF(),
          statsCols = Seq("doc_id"), txn = Some((streamId, id)))
        lastBatch = math.max(lastBatch, id)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // foreachBatch is at-least-once: simulate the restart that replays
    // the final epoch — the txn watermark must swallow it
    val replay = SnapshotOps.commitAppend(spark, table,
      spark.read.parquet(srcDir), txn = Some((streamId, lastBatch)))
    (table, SnapshotOps.currentVersion(table), replay.skipped)
  }

  /** GOVERNED exactly-once streaming ingestion — the q240 txn sink
    * composed with the q254 write-audit-publish gate: every
    * micro-batch STAGES on a branch (invisible to main), an audit
    * predicate runs over the staged rows, and only a clean batch
    * publishes (atomic metadata CAS carrying the per-stream batch
    * watermark, so replays skip); a dirty batch's branch drops — its
    * rows never reach a main manifest and its files die as vacuum
    * orphans. The per-batch cost over the plain sink is one branch
    * manifest write + the audit scan of just that batch.
    * Returns (tableDir, published, rejected, replaySkipped). */
  def streamGovernedSink(spark: SparkSession, sfDir: String,
      scratch: String, chunks: Int): (String, Int, Int, Boolean) = {
    import graft.operators.SnapshotOps
    // chunk by doc_id % chunks (deterministic, oracle-rederivable) and
    // corrupt chunk 1's n_chars so exactly that batch fails the audit
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(chunks)) === 1,
          -col("n_chars") - 1).otherwise(col("n_chars")).as("n_chars"))
    val srcDir = s"$scratch/chunks"
    // one file per chunk, written separately: a batch IS a chunk, so
    // the audit verdict applies to exactly one doc_id class
    (0 until chunks).foreach { c =>
      docs.where(pmod(col("doc_id"), lit(chunks)) === c).coalesce(1)
        .write.mode(if (c == 0) "overwrite" else "append")
        .parquet(srcDir)
    }
    val table = s"$scratch/table"
    val streamId = "governed_ingest"
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    var published = 0
    var rejected = 0
    var lastClean = -1L
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val branch = s"b$id"
        SnapshotOps.stageAppend(spark, table, branch, batch.toDF(),
          statsCols = Seq("doc_id"))
        val dirty = graft.operators.ConstraintOps.rowChecks(
          SnapshotOps.readStaged(spark, table, branch),
          Seq("chars_nonneg" -> (col("n_chars") >= 0)))
          .agg(sum(col("violations"))).head().getLong(0)
        if (dirty == 0) {
          SnapshotOps.publishBranch(table, branch,
            txn = Some((streamId, id)))
          published += 1
          lastClean = math.max(lastClean, id)
        } else {
          SnapshotOps.dropBranch(table, branch)
          rejected += 1
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // at-least-once replay of the last published epoch: stage again,
    // publish must skip on the txn watermark without appending. Only
    // meaningful when something published: with lastClean = -1 no txn
    // watermark exists in the manifest and publishBranch would PUBLISH
    // the replay sample into main — so skip the simulation entirely
    // (replaySkipped = false reports the truth: nothing was replayed).
    val replaySkipped =
      if (lastClean >= 0) {
        SnapshotOps.stageAppend(spark, table, "replay",
          spark.read.parquet(srcDir).limit(1))
        SnapshotOps.publishBranch(table, "replay",
          txn = Some((streamId, lastClean))).skipped
      } else false
    (table, published, rejected, replaySkipped)
  }

  /** Streaming CDC-APPLY (upsert) sink — the Delta/Iceberg "merge into
    * from a change stream" pattern: each micro-batch of keyed changes
    * lands as ONE committed upsert version (commitMerge: matched keys
    * replace file-granularly, new keys append; the first batch on an
    * empty table is a plain append commit), under the same per-stream
    * txn watermark as the append sink, so an at-least-once replay of an
    * epoch skips before reading a byte.
    *
    * The change source is two deterministic waves derived from
    * `customer`: wave 1 = initial balances (id ≤ `n`), wave 2 = a
    * +50.0 balance correction for id ≤ `updN`. Waves arrive in order —
    * one file each with forced modification times, maxFilesPerTrigger=1
    * (FileStreamSource schedules by mtime) — because upserts, unlike
    * appends, do not commute. Returns (tableDir, versions,
    * updatedFilesReusedSomewhere, replaySkipped). */
  def streamUpsertSink(spark: SparkSession, sfDir: String,
      scratch: String, n: Int, updN: Int): (String, Int, Boolean, Boolean) = {
    import graft.operators.SnapshotOps
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
    val wave1 = cust.where(col("id") <= n)
    val wave2 = cust.where(col("id") <= updN)
      .withColumn("bal", col("bal") + lit(50.0))
    val srcDir = s"$scratch/changes"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def writeWave(df: DataFrame, i: Int): Unit = {
      val tmp = s"$scratch/wave$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Option(new java.io.File(tmp).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(srcDir, s"wave$i.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // mtime IS the arrival order contract
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L +
          i * 60000L))
    }
    writeWave(wave1, 1)
    writeWave(wave2, 2)
    val table = s"$scratch/table"
    val streamId = "cdc_upsert"
    def upsert(batch: DataFrame, id: Long): SnapshotOps.Committed =
      if (SnapshotOps.currentVersion(table) == 0)
        // key-ranged layout so later waves' merges are file-granular
        SnapshotOps.commitAppend(spark, table,
          batch.repartitionByRange(4, col("id")),
          statsCols = Seq("id"), txn = Some((streamId, id)))
      else SnapshotOps.commitMerge(spark, table, batch, Seq("id"),
        txn = Some((streamId, id)))
    var lastBatch = -1L
    var reusedSomewhere = false
    val q = spark.readStream.schema(wave1.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val c = upsert(batch.toDF(), id)
        reusedSomewhere = reusedSomewhere || c.reused > 0
        lastBatch = math.max(lastBatch, id)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // replay the final epoch: the merge must skip on the watermark
    val replay = upsert(
      spark.read.parquet(s"$srcDir/wave2.parquet"), lastBatch)
    (table, SnapshotOps.currentVersion(table), reusedSomewhere,
      replay.skipped)
  }
}
