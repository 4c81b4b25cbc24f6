package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.api.Engine

/** Drives one workload through the public Engine / StreamEngine as a
  * caller would, and writes the raw record (`result.json`: per-request
  * samples, set-up timings, output checks, run context) plus, when
  * traced, the span trace (`trace.jsonl`). `run.py` aggregates both.
  *
  * {{{
  *   Main --workload retrieval|browse|stream_ingest --seed N --seconds S
  *        --trace 0|1 --out DIR --data DIR --reads-between N
  *        --compact-every N --segment-upserts N --segment-tombstones N
  * }}}
  * `run.py` passes the sizes of its full and smoke modes.
  */
object Main {

  /** Each workload's request mix (kind -> weight). The record's context
    * carries it, so the aggregation weighs latency by the mix that ran.
    * `retrieval` also carries the browse kinds, so the benchmarked
    * workloads exercise suggest, catalog, facets and graph. */
  val Mixes: Map[String, Seq[(String, Double)]] = Map(
    "retrieval" -> Seq("find_keyword" -> 20.0, "find_hybrid" -> 20.0,
      "find_hybrid_filtered" -> 10.0, "find_paragraphs" -> 10.0, "search" -> 10.0,
      "suggest" -> 6.0, "catalog" -> 6.0, "catalog_facets" -> 6.0, "graph" -> 6.0,
      "graph_filtered" -> 6.0),
    "browse" -> Seq("suggest" -> 30.0, "catalog" -> 25.0, "catalog_facets" -> 15.0,
      "graph" -> 15.0, "graph_filtered" -> 15.0),
    "stream_ingest" -> Seq("stream_find" -> 70.0, "stream_suggest" -> 30.0))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, data: String, readsBetween: Int, compactEvery: Int,
      segmentUpserts: Int, segmentTombstones: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("out"), m("data"), m("reads-between").toInt, m("compact-every").toInt,
      m("segment-upserts").toInt, m("segment-tombstones").toInt)
  }

  /** One read request's record; `first` keeps the first response
    * frame's rows for the output checks that need them. */
  final case class Sample(req: Request, client: Int, span: String,
      startMs: Double, buildMs: Double, execMs: Double, ok: Boolean, rows: Long,
      digest: String, first: Seq[org.apache.spark.sql.Row], error: String) {
    def kind: String = req.kind
    def key: String = req.key
    def ms: Double = buildMs + execMs
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Mixes.contains(a.workload), s"unknown workload ${a.workload}")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${a.workload}")
      // sized to the cores, as a deployment sizes it to its data: at this
      // corpus size 32 partitions doubles segment-write time
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, a, nproc) finally spark.stop()
    sys.exit(code)
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def run(spark: SparkSession, a: Args, nproc: Int): Int = {
    val loadBefore = loadAvg()
    val corpus = Corpus.load(spark, a.data, a.seed)
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val tag: Tagger = tracer.getOrElse(Tagger.Untraced)
    val checks = new Checks
    val mix = Mixes(a.workload)
    val warm = {
      val g = new RequestGen(corpus, mix, a.seed ^ 0x5eedL)
      mix.map { case (k, _) => g.request(k) }
    }
    val record = scala.collection.mutable.LinkedHashMap[String, Any]()
    val samples = new ConcurrentLinkedQueue[Sample]

    val clients = if (a.workload == "browse") math.min(4, nproc) else 1
    def issue(e: Engine, r: Request, client: Int, traced: Boolean,
        extra: Map[String, Any] = Map.empty): Sample = {
      val t = tracer.filter(_ => traced)
      def body(spanId: String): Sample = {
        val t0 = Clock.ms()
        var t1 = t0
        try {
          val frames = t.map(_.span("build")(r.build(e))).getOrElse(r.build(e))
          t1 = Clock.ms()
          val resp = t.map(_.span("exec")(Request.exec(frames))).getOrElse(Request.exec(frames))
          val t2 = Clock.ms()
          val keep = r.kind == "find_keyword" || r.kind == "stream_marker"
          Sample(r, client, spanId, t0, t1 - t0, t2 - t1, ok = true, resp.resultRows,
            resp.digest, if (keep) resp.rows.head else Nil, "")
        } catch {
          case NonFatal(ex) =>
            Sample(r, client, spanId, t0, t1 - t0, Clock.ms() - t1, ok = false, 0L, "", Nil,
              s"${ex.getClass.getSimpleName}: ${ex.getMessage}".take(300))
        } finally graft.Caches.releaseAll()
      }
      t match {
        case Some(tr) => tr.span("request", Map("kind" -> r.kind, "key" -> r.key,
          "client" -> client) ++ extra)(body(tr.currentId))
        case None => body("")
      }
    }

    /** The closed loop: each client sends its next request when the
      * previous one returns, until `seconds` have passed. */
    def closedLoop(e: Engine, seconds: Double, traced: Boolean, seedSalt: Long,
        after: (Engine, Request, Sample) => Unit): (Double, Int) = {
      val deadline = Clock.ms() + seconds * 1000
      val start = Clock.ms()
      val threads = (0 until clients).map { c =>
        val gen = new RequestGen(corpus, mix, a.seed * 1000003L + seedSalt + c)
        new Thread(() => {
          while (Clock.ms() < deadline) {
            val r = gen.next()
            val s = issue(e, r, c, traced)
            samples.add(s)
            after(e, r, s)
          }
        }, s"client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (Clock.ms() - start, clients)
    }

    a.workload match {
      case "retrieval" | "browse" =>
        val root = s"${a.out}/root"
        val t0 = Clock.ms()
        val su = tag("setup")(Setup.batch(spark, root, corpus, warm, tag, checks))
        val e = su.engine
        record("setup") = Map(
          "setup_s" -> (Clock.ms() - t0) / 1000,
          "ingest_documents_s" -> su.ingestDocumentsS,
          "ingest_vectors_s" -> su.ingestVectorsS,
          "ingest_relations_s" -> su.ingestRelationsS,
          "register_s" -> su.registerS,
          "warmup_s" -> su.warmupS,
          "freshness_ms" -> su.freshnessMs,
          "ingest_docs_per_s" -> su.ingestDocs / su.ingestS,
          "text_bytes" -> su.textBytes,
          "vector_bytes" -> su.vectorBytes,
          "graph_bytes" -> su.graphBytes,
          "index_bytes" -> su.rootBytes,
          "input_bytes" -> corpus.inputBytes)
        // probe every other request of each kind, from the kind's first,
        // so every layer is sampled whatever the order of the mix
        val seen = new java.util.concurrent.ConcurrentHashMap[String,
          java.util.concurrent.atomic.AtomicLong]
        val after: (Engine, Request, Sample) => Unit = (eng, r, s) =>
          tracer.foreach { t =>
            val nth = seen.computeIfAbsent(r.kind, _ => new java.util.concurrent.atomic.AtomicLong)
              .getAndIncrement()
            if (s.ok && nth % 2 == 0) Probes.run(spark, t, eng, root, r, s.span)
          }
        val timed = tracer match {
          case None => Seq("untraced" -> closedLoop(e, a.seconds, traced = false, 1L, (_, _, _) => ()))
          case Some(t) =>
            // an untraced stretch, then a traced one as long on the same
            // engine: the two p50s give the tracing overhead
            t.pause()
            val un = closedLoop(e, a.seconds, traced = false, 2L, (_, _, _) => ())
            t.resume()
            val tr = closedLoop(e, a.seconds, traced = true, 1L, after)
            Seq("traced" -> tr, "untraced" -> un)
        }
        record("phases") = timed.map { case (n, (wall, c)) => n -> Map("wall_ms" -> wall, "clients" -> c) }.toMap
        tracer.foreach(_.pause())
        Verify(spark, a.workload, e, corpus, samples.asScala.toSeq, a.seed, checks)

      case "stream_ingest" =>
        val sroot = s"${a.out}/stream_root"
        val (e, setupS) = tag("setup")(Setup.stream(spark, sroot, corpus, warm, tag))
        record("setup") = Map("setup_s" -> setupS, "input_bytes" -> corpus.inputBytes)
        val loop = new StreamLoop(spark, a, corpus, e, sroot, tracer, checks,
          (r, traced, extra) => { val s = issue(e, r, 0, traced, extra); samples.add(s); s })
        val phases = tracer match {
          case None => Seq("untraced" -> loop.run(a.seconds, traced = false))
          case Some(t) =>
            t.pause()
            val un = loop.run(a.seconds, traced = false)
            t.resume()
            val tr = loop.run(a.seconds, traced = true)
            Seq("traced" -> tr, "untraced" -> un)
        }
        record("phases") = phases.map { case (n, wall) => n -> Map("wall_ms" -> wall, "clients" -> 1) }.toMap
        record("stream") = loop.record ++ Map("index_bytes" -> Disk.bytes(sroot))
    }

    // live heap after forced GCs at the end of the timed region (the
    // second lets weak-reference cleanup from the first complete)
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    record("live_heap_mb") =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val unattributed = tracer.map(_.finish(s"${a.out}/trace.jsonl")).getOrElse(0)
    if (tracer.nonEmpty)
      checks("traced run attributes every job", unattributed == 0,
        s"$unattributed jobs carry no request's job group")

    val conf = spark.conf
    record("context") = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> nproc, "clients" -> clients,
      "docs" -> corpus.size, "mix" -> mix.toMap,
      "master" -> spark.sparkContext.master,
      "session" -> Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone", "spark.ui.enabled")
        .map(k => k -> conf.getOption(k).getOrElse("")).toMap,
      "xmx_mb" -> rt.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "load_before" -> loadBefore, "load_after" -> loadAvg())
    record("samples") = samples.asScala.toSeq.map(s => Map(
      "kind" -> s.kind, "key" -> s.key, "client" -> s.client, "span" -> s.span,
      "start" -> s.startMs, "build_ms" -> s.buildMs, "exec_ms" -> s.execMs,
      "ok" -> s.ok, "rows" -> s.rows, "error" -> s.error))
    record("checks") = Map("attempted" -> checks.attempted, "failed" -> checks.failed)
    val w = new java.io.PrintWriter(s"${a.out}/result.json", "UTF-8")
    try w.println(Json.write(record.toMap)) finally w.close()
    if (checks.failed.isEmpty && samples.asScala.forall(_.ok)) 0 else 3
  }
}
