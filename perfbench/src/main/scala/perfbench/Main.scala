package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}

/** One workload of the benchmark. `setup` runs once on the fresh
  * session; `round` issues one complete round of timed ops;
  * `finish` runs after the measurement window and returns what the
  * correctness gate compares against its oracles. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def round(ctx: Ctx, r: Int): Unit
  def finish(ctx: Ctx): Map[String, Any]
  def close(): Unit = ()
}

final case class Config(workload: String, inputs: String, work: String,
    seconds: Double, trace: Boolean, out: String, seed: Long)

final case class Sample(kind: String, cls: String, durNs: Long,
    traced: Boolean, ok: Boolean, items: Long)

/** What a workload sees: the session, the op timer and the traced-run
  * recorders. */
final class Ctx(val cfg: Config) {
  var spark: SparkSession = _
  val samples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  var tracer: Option[Tracer] = None
  /** op span id -> (kind, layer), for traced ops */
  val opMeta = mutable.LinkedHashMap.empty[Long, (String, String)]
  /** values a workload reports for a per-layer metric (averaged) */
  val layerVals = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** probe name -> durations (us), traced rounds only */
  val probes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  var gcMsTraced = 0L

  def traced: Boolean = tracer.isDefined

  def report(name: String, v: Double): Unit =
    layerVals.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Time one op until its result is on the client. A failing op is
    * counted and logged; the run goes on. */
  def op[T](kind: String, cls: String, layer: String, items: Long = 1L)
      (body: => T): Option[T] = {
    val id = tracer.map(_.nextId()).getOrElse(0L)
    val sc = spark.sparkContext
    tracer.foreach(t => sc.setLocalProperty(t.OpProp, id.toString))
    val gc0 = if (traced) Main.gcMs() else 0L
    val t0 = Clock.us
    val n0 = System.nanoTime()
    val r = try Some(body) catch { case NonFatal(e) =>
      errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
      System.err.println(s"[perfbench] op $kind failed: $e")
      None
    }
    val dur = System.nanoTime() - n0
    System.err.println(f"[perfbench] op $kind%s ${dur / 1e6}%.1f ms")
    tracer.foreach { t =>
      sc.setLocalProperty(t.OpProp, null)
      t.add(Span(id, 0L, kind, layer, t0, Clock.us))
      opMeta(id) = (kind, layer)
      gcMsTraced += Main.gcMs() - gc0
    }
    samples += Sample(kind, cls, dur, traced, r.isDefined, items)
    r
  }

  /** Traced rounds only: time the benchmark's own call into a layer's
    * public function, as a root span outside any op. */
  def probe(name: String, layer: String)(body: => Any): Unit =
    tracer.foreach { t =>
      val t0 = Clock.us
      body
      val t1 = Clock.us
      t.add(Span(t.nextId(), 0L, name, layer, t0, t1))
      probes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (t1 - t0)
    }
}

object Main {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def session(cfg: Config): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.hadoop.fs.file.impl", "graft.fs.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.fs.FastLocalFs")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Config(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m.get("trace").contains("1"), m("out"), m.getOrElse("seed", "0").toLong)
  }

  def workload(cfg: Config): Workload = cfg.workload match {
    case "llm_pipeline" => new LlmPipeline(cfg)
    case "table_write" => new TableWrite(cfg)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val ctx = new Ctx(cfg)
    // set-up: from the JVM's start to the first timed op (the workload's
    // input loading, the session, its set-up and warm-up). It runs once,
    // cold: a cold repeat needs a fresh JVM and costs 20-30 s on a 4-core
    // host, which the benchmark's run budget cannot hold.
    def sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl = workload(cfg)
    ctx.spark = session(cfg)
    System.err.println(f"[perfbench] session at $sinceStart%.2f s")
    wl.setup(ctx)
    val setupS = sinceStart
    System.err.println(f"[perfbench] setup $setupS%.2f s")
    // closed loop, one client: whole rounds until the window has passed.
    // The traced run alternates untraced and traced rounds, at least
    // three, so the tracing overhead is measured against the same round
    // mix, and the untraced rounds on both sides of a traced one cancel
    // the speed-up the later rounds still gain from warming up.
    val tracer = new Tracer(ctx.spark)
    val w0 = System.nanoTime()
    val deadline = w0 + (cfg.seconds * 1e9).toLong
    var r = 0
    while (System.nanoTime() < deadline || (cfg.trace && r < 3)) {
      val tracedRound = cfg.trace && r % 2 == 1
      if (tracedRound) { tracer.attach(); ctx.tracer = Some(tracer) }
      wl.round(ctx, r)
      if (tracedRound) { tracer.detach(); ctx.tracer = None }
      r += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    // the live heap: what stays reachable once the window's work is done.
    // Spark's ContextCleaner frees broadcast and shuffle blocks only after
    // a GC has cleared their references, so collect until it has run.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    if (cfg.trace) { tracer.attach(); ctx.tracer = Some(tracer) }
    val checks = wl.finish(ctx)
    if (cfg.trace) { tracer.detach(); ctx.tracer = None }
    val layers = if (cfg.trace) Layers.metrics(ctx, tracer) else Map.empty
    if (cfg.trace) Json.writeLines(s"${cfg.work}/spans.jsonl", tracer.spans.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    val out = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "rounds" -> r,
      "setup_s" -> setupS, "window_s" -> windowS,
      "samples" -> ctx.samples.map(s =>
        Seq(s.kind, s.cls, s.durNs, s.traced, s.ok, s.items)),
      "errors" -> ctx.errors,
      "peak_rss_mb" -> vmHwmMb(), "live_heap_mb" -> liveHeapMb,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> ctx.spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "layers" -> layers, "checks" -> checks)
    Json.write(cfg.out, out)
    wl.close()
    ctx.spark.stop()
  }
}

/** Per-layer metrics of the traced rounds, named after the repo's
  * modules (README.md lists which end-to-end metric each should move). */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(ctx: Ctx, t: Tracer): Map[String, Double] = {
    t.drain()
    val m = mutable.LinkedHashMap.empty[String, Double]
    val spans = t.spans.toSeq
    val byParent = spans.filter(_.parent != 0L).groupBy(_.parent)
    val ops = spans.filter(s => ctx.opMeta.contains(s.id))
    val n = math.max(ops.size, 1).toDouble
    val selfByLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val gaps = mutable.ArrayBuffer.empty[Double]
    val qps = mutable.ArrayBuffer.empty[Double]
    var wallMs = 0.0
    ops.foreach { o =>
      val jobs = byParent.getOrElse(o.id, Nil).map(j => (j.startUs, j.endUs))
      val cat = t.phases.filter(p => p._1 >= o.startUs && p._1 < o.endUs)
      cat.foreach(p => phaseMs(p._3) += (math.min(p._2, o.endUs) - p._1) / 1000.0)
      val jobU = Intervals.union(jobs, o.startUs, o.endUs)
      val allU = Intervals.union(jobs ++ cat.map(p => (p._1, p._2)),
        o.startUs, o.endUs)
      selfByLayer("sched") += jobU / 1000.0
      selfByLayer("catalyst") += (allU - jobU) / 1000.0
      selfByLayer(o.layer) += (o.durUs - allU) / 1000.0
      wallMs += o.durUs / 1000.0
      if (o.layer == "engine") {
        gaps += (o.durUs - jobU) / 1000.0
        qps += t.queries.count(q => q >= o.startUs && q <= o.endUs).toDouble
      }
    }
    spans.filter(s => s.parent == 0L && !ctx.opMeta.contains(s.id))
      .foreach(s => selfByLayer(s.layer) += s.durUs / 1000.0)
    selfByLayer("jvm") += ctx.gcMsTraced
    selfByLayer.foreach { case (l, v) => m(s"self.${l}_ms_per_op") = v / n }

    def probeUs(name: String) = mean(ctx.probes.getOrElse(name, Nil).map(_.toDouble))
    m("dialect.rewrite_us") = probeUs("rewrite")
    m("dialect.normalize_us") = probeUs("normalize")
    m("dialect.scan_prune_us") = probeUs("scan_prune")
    m("meta.manifest_read_ms") = probeUs("manifest_read") / 1000.0
    m("meta.prune_ms") = probeUs("prune") / 1000.0

    // median traced duration of each op kind: engine statements as
    // engine.stmt_ms.<kind>, the other layers' ops as <layer>.<kind>_ms
    ops.groupBy(o => ctx.opMeta(o.id)).foreach { case ((kind, layer), v) =>
      val name = if (layer == "engine") s"engine.stmt_ms.$kind" else s"$layer.${kind}_ms"
      m(name) = median(v.map(_.durUs / 1000.0))
    }
    m("engine.driver_gap_ms") = mean(gaps)
    m("engine.queries_per_stmt") = mean(qps)

    phaseMs.foreach { case (p, v) => m(s"catalyst.${p}_ms") = v / n }

    val cs = ops.flatMap(o => t.counters.get(o.id))
    def perOp(f: OpCounters => Long) = cs.map(f).sum / n
    m("sched.jobs_per_op") = perOp(_.jobs)
    m("sched.stages_per_op") = perOp(_.stages)
    m("sched.tasks_per_op") = perOp(_.tasks)
    m("sched.task_busy_ms_per_op") = perOp(_.busyMs)
    m("sched.task_queue_ms_per_op") = perOp(_.queueMs)
    m("sched.failed_tasks") = cs.map(_.failedTasks).sum.toDouble
    m("sched.core_util") =
      if (wallMs == 0) 0.0 else cs.map(_.busyMs).sum /
        (wallMs * Runtime.getRuntime.availableProcessors())
    m("sched.shuffle_write_bytes_per_op") = perOp(_.shuffleW)
    m("sched.shuffle_read_bytes_per_op") = perOp(_.shuffleR)
    m("sched.spill_bytes_per_op") = perOp(_.spill)
    m("tables.input_bytes_per_op") = perOp(_.inBytes)
    m("tables.input_rows_per_op") = perOp(_.inRows)

    m("jvm.gc_ms") = ctx.gcMsTraced / n
    m("jvm.heap_after_gc_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

    // everything else a workload reported (tables.*, kernel.*, meta.*,
    // stream.*) is the mean of its reported values
    ctx.layerVals.foreach { case (k, v) => if (!m.contains(k)) m(k) = mean(v) }
    m.toMap
  }
}

/** The result artifact is written, and the inputs read, with the Jackson
  * that Spark bundles. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val tsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Scala and Spark values as the plain Java values Jackson writes;
    * timestamps in the form Python's str(datetime) gives them. */
  private def plain(v: Any): Any = v match {
    case null | None => null
    case Some(x) => plain(x)
    case d: BigDecimal => d.toDouble
    case d: java.math.BigDecimal => d.doubleValue
    case x @ (_: String | _: Boolean | _: java.lang.Number) => x
    case t: java.sql.Timestamp => plain(t.toLocalDateTime)
    case t: java.time.Instant =>
      plain(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime =>
      val base = t.format(tsFormat)
      if (t.getNano == 0) base else f"$base.${t.getNano / 1000}%06d"
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => plain(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> plain(x) }.asJava
    case a: Array[_] => plain(a.toSeq)
    case s: scala.collection.Iterable[_] => s.map(plain).toSeq.asJava
    case x => x.toString
  }

  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), plain(v))

  def writeLines(path: String, vs: Iterable[Any]): Unit = {
    val w = new java.io.PrintWriter(new File(path), "UTF-8")
    try vs.foreach(v => w.println(mapper.writeValueAsString(plain(v))))
    finally w.close()
  }

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new File(path))
}
