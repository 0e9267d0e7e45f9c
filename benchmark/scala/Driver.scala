package perfbench

import graft.http.{ControlPlane, WebSocketHub}
import graft.ir.{Engine, EngineCtx, Node, StreamRegistry}
import graft.model.Event
import graft.sources.RiemannCodec
import graft.streaming.StreamServe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-process side of the benchmark: runs one workload against the
  * library's public entry points and writes a JSON result for `run.py`.
  *
  * Arguments are `key=value`: `workload` (replay_batch | replay_stream |
  * dedup_corpus | serve_traced), `in` (generated input dir), `work`
  * (scratch dir), `pipeline` (IR JSON with `@OUT@` for the output root),
  * `seconds` (frame budget of the traced serve replay), `trace` (0|1),
  * `setups`, `warmup` (0|1), `passes`, `cpus`, `result`.
  */
object Driver {

  final case class Pass(ms: Double, opMs: Seq[Double], failed: Int, attempted: Int, out: Path)

  private var spark: SparkSession = _
  private val ctx = EngineCtx()

  def main(args: Array[String]): Unit = {
    // exit explicitly: the control plane's worker pool would keep a failed
    // run alive
    val rc = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(rc)
  }

  private def run(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val in = Paths.get(a("in")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cpus = a.getOrElse("cpus", "4")
    val pipeline = a.get("pipeline").map(p => Files.readString(Paths.get(p))).getOrElse("")
    val schema: StructType = workload match {
      case "dedup_corpus" => StructType.fromDDL("id LONG, text STRING")
      case _              => Event.schema
    }
    Files.createDirectories(work)

    // ---- set-up: session up + stream set parsed and validated. The first
    // counts from JVM start; the later ones rebuild the session in this JVM.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def setup(): Unit = {
      spark = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val errors = workload match {
        case "serve_traced" =>
          val r = new StreamRegistry(ctx)
          r.loadFrom(in.resolve("streams").toString)
          r.list.flatMap(n => Engine.validate(r.get(n).get, spark, ctx))
        case _ => Engine.validate(Node.fromJson(pipeline.replace("@OUT@", work.resolve("validate").toString)),
          spark, ctx, schema)
      }
      require(errors.isEmpty, s"stream set invalid: ${errors.mkString("; ")}")
    }
    val setupS = mutable.ArrayBuffer[Double]()
    setup()
    setupS += (System.currentTimeMillis() - jvmStart) / 1000.0
    for (_ <- 1 until a.getOrElse("setups", "1").toInt) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t = System.nanoTime()
      setup()
      setupS += (System.nanoTime() - t) / 1e9
    }

    val tracer = new Tracer(spark, traced)
    val fields = mutable.LinkedHashMap[String, String]()
    fields("setup_s") = Json.arr(setupS)
    workload match {
      case "serve_traced" => serveTraced(in, work, seconds, tracer, fields)
      case _ =>
        val node = (out: Path) => Node.fromJson(pipeline.replace("@OUT@", out.toString))
        val pass: (Int, Tracer) => Pass = workload match {
          case "replay_batch"  => (i, t) => batchPass(node, spark.read.schema(schema).json(in.toString), work, i, t)
          case "replay_stream" => (i, t) => streamPass(node, in, work, i, t)
          case "dedup_corpus"  => (i, t) => batchPass(node, spark.read.schema(schema).json(in.resolve("corpus.json").toString), work, i, t)
          case other           => throw new IllegalArgumentException(s"unknown workload '$other'")
        }
        val off = new Tracer(spark, false)
        if (a.getOrElse("warmup", "1") == "1") pass(0, off) // not measured
        // a fixed number of passes: every run measures the same work
        val passes = (1 to a("passes").toInt).map(pass(_, off))
        fields("pass_ms") = Json.arr(passes.map(_.ms))
        fields("op_ms") = Json.arr(passes.flatMap(_.opMs))
        fields("failed") = passes.map(_.failed).sum.toString
        fields("attempted") = passes.map(_.attempted).sum.toString
        fields("out") = Json.str(passes.last.out.toString)
        if (traced) {
          tracer.install()
          val p = tracer.span("pass", "gen", "pass") { pass(passes.size + 1, tracer) }
          val layers = mutable.LinkedHashMap[String, Double]()
          collectLayers(tracer, layers, p, cpus.toInt)
          // overhead: the traced pass against the untraced passes around it
          tracer.uninstall()
          val after = pass(passes.size + 2, off)
          layers("trace.overhead_share") = p.ms / ((passes.last.ms + after.ms) / 2) - 1
          tracer.install()
          workload match {
            case "replay_batch" => replayOperators(node, schema, in, tracer, layers)
            case "dedup_corpus" => dedupOperators(node, schema, in, tracer, layers)
            case _              =>
          }
          finishTrace(tracer, work, layers, fields)
        }
    }
    fields("peak_rss_mb") = Json.num(peakRssMb)
    Files.writeString(Paths.get(a("result")), Json.obj(fields) + "\n")
    spark.stop()
  }

  // ------------------------------------------------------------ passes

  private def batchPass(node: Path => Node, input: DataFrame, work: Path, i: Int, t: Tracer): Pass = {
    val out = work.resolve(s"out/pass-$i")
    planOnly(t, node(out), input, i)
    val start = System.nanoTime()
    t.span("engine_run", "ir", s"pass-$i") { Engine.run(node(out), input, ctx) }
    Pass((System.nanoTime() - start) / 1e6, Nil, 0, 1, out)
  }

  private def streamPass(node: Path => Node, in: Path, work: Path, i: Int, t: Tracer): Pass = {
    val out = work.resolve(s"out/pass-$i")
    val src = StreamServe.source(spark, Map("type" -> "file", "path" -> in.toString,
      "format" -> "json", "max-files-per-trigger" -> "1"))
    planOnly(t, node(out), src, i)
    val start = System.nanoTime()
    val res = t.span("engine_run", "ir", s"pass-$i") { Engine.run(node(out), src, ctx) }
    val queries = res.streamingQueries.toSeq
    val failed = t.span("await", "streaming", s"pass-$i") {
      queries.count(q => try { q.processAllAvailable(); false }
        catch { case scala.util.control.NonFatal(e) => System.err.println(s"[driver] query failed: $e"); true })
    }
    val ms = (System.nanoTime() - start) / 1e6
    val batches = queries.flatMap(_.recentProgress).filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue())
    queries.foreach(_.stop())
    Pass(ms, batches, failed + queries.count(_.exception.isDefined), queries.size, out)
  }

  /** Plan building alone (test mode skips every sink), traced runs only
    * and outside the pass time.
    */
  private def planOnly(t: Tracer, node: Node, input: DataFrame, i: Int): Unit =
    if (t.enabled) t.span("plan", "ir", s"pass-$i") { Engine.run(node, input, ctx.copy(testMode = true)) }

  // ------------------------------------------------------------ per layer

  private def collectLayers(t: Tracer, layers: mutable.Map[String, Double], p: Pass, cores: Int): Unit = {
    val s = t.jobs.snapshot()
    val phases = t.planning.snapshot()
    val ops = math.max(1, p.opMs.size).toDouble // per micro-batch on streams, per pass otherwise
    layers("spark.jobs_per_push") = s.jobs / ops
    layers("spark.stages_per_push") = s.stages / ops
    layers("spark.tasks_per_push") = s.tasks / ops
    layers("spark.sched_delay_ms") = if (s.tasks == 0) 0 else s.schedDelayMs.toDouble / s.tasks
    layers("spark.shuffle_write_mb") = s.shuffleWrite / 1e6
    layers("spark.shuffle_read_mb") = s.shuffleRead / 1e6
    layers("spark.spill_mb") = s.spill / 1e6
    layers("spark.gc_ms") = s.gcMs.toDouble
    layers("spark.task_busy_share") = s.runMs / (p.ms * cores)
    layers("spark.max_task_share") = t.jobs.maxTaskShare
    layers("spark.failed_jobs") = s.failedJobs.toDouble
    layers("ir.analysis_ms") = phases.getOrElse("analysis", 0L).toDouble
    layers("ir.optimization_ms") = phases.getOrElse("optimization", 0L).toDouble
    layers("ir.planning_ms") = phases.getOrElse("planning", 0L).toDouble
    layers("ir.push_plan_ms") = spanMean(t, "plan")
    layers("sinks.write_stage_s") = t.jobs.writeStageMs / 1e3
    val (rows, bytes) = outputSize(p.out)
    layers("sinks.rows_out") = rows.toDouble
    layers("sinks.bytes_out") = bytes.toDouble
    streamingLayers(t, layers)
  }

  private def streamingLayers(t: Tracer, layers: mutable.Map[String, Double]): Unit = {
    val prog = t.progress.events.asScala.toSeq
    if (prog.nonEmpty) {
      val data = prog.filter(_.numInputRows > 0)
      def dur(k: String) = mean(data.map(p => Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)))
      layers("streaming.add_batch_ms") = dur("addBatch")
      layers("streaming.query_planning_ms") = dur("queryPlanning")
      layers("streaming.commit_ms") = dur("commitOffsets")
      layers("streaming.latest_offset_ms") = dur("latestOffset")
      val st = prog.flatMap(_.stateOperators)
      layers("streaming.state_rows") = prog.groupBy(_.id).values.map(_.maxBy(_.batchId)
        .stateOperators.map(_.numRowsTotal).sum.toDouble).sum
      layers("streaming.state_mb") = prog.groupBy(_.id).values.map(_.map(
        _.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble).sum / 1e6
      layers("streaming.state_rows_removed") = st.map(_.numRowsRemoved).sum.toDouble
      layers("streaming.state_commit_ms") = mean(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
      layers("streaming.late_rows_dropped") = st.map(_.numRowsDroppedByWatermark).sum.toDouble
      // files not yet read when each data batch ran (the reader's lag
      // behind the newest chunk of the catch-up stream)
      val files = data.groupBy(_.id).values.map(_.size).max
      layers("streaming.backlog_files") = mean(data.groupBy(_.id).values.toSeq.flatMap(qs =>
        qs.sortBy(_.batchId).zipWithIndex.map { case (_, k) => (files - k - 1).toDouble }))
      // one span per trigger, its phases as children; jobs of the batch move under it
      val trig = mutable.Map[(String, Long), Long]()
      prog.foreach { p =>
        val s0 = t.nsOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val total = p.durationMs.get("triggerExecution").longValue()
        // queries are unnamed: the sink path's last segment names the stream
        val stream = p.sink.description.split("[/\\]]").filter(_.nonEmpty).lastOption.getOrElse(p.id.toString)
        val id = t.add("trigger", "streaming", s"$stream/${p.batchId}", 0L, s0, s0 + total * 1000000L)
        trig((p.id.toString, p.batchId)) = id
        var c = s0
        Seq("latestOffset", "queryPlanning", "addBatch", "commitOffsets", "walCommit").foreach { k =>
          Option(p.durationMs.get(k)).map(_.longValue()).filter(_ > 0).foreach { d =>
            t.add(k, if (k == "addBatch") "sinks" else "streaming", s"$stream/${p.batchId}", id, c, c + d * 1000000L)
            c += d * 1000000L
          }
        }
      }
      val streamJobs = t.jobs.jobStream.toMap
      val reparented = t.spans.asScala.toSeq.map { s =>
        if (s.layer == "spark") streamJobs.get(s.req.stripPrefix("job-").toInt)
          .flatMap(trig.get).map(p => s.copy(parent = p)).getOrElse(s)
        else s
      }
      t.spans.clear(); reparented.foreach(t.spans.add)
    }
  }

  /** Each operator stage alone, on the materialized output of the stage
    * before it (the log itself for the per-key folds).
    */
  private def replayOperators(node: Path => Node, schema: StructType, in: Path, t: Tracer,
                              layers: mutable.Map[String, Double]): Unit = {
    val tree = node(Paths.get("unused"))
    val keys = params(tree, "by").head.asInstanceOf[Seq[Any]].map(_.toString)
    val base = materialize(t, "log", spark.read.schema(schema).json(in.toString))
    def op(name: String, action: String, input: DataFrame, keep: Boolean = false): DataFrame = {
      val s = System.nanoTime()
      val out = t.span(name, "operators", name) {
        val df = Engine.applyOp(action, params(tree, action), keys, ctx)(input)
        if (keep) materialize(t, name, df) else { df.write.format("noop").mode("overwrite").save(); df }
      }
      layers(s"operators.${name}_s") = (System.nanoTime() - s) / 1e9
      out
    }
    val windows = op("window", "fixed-time-window", base, keep = true)
    op("coll_mean", "coll-mean", windows)
    op("percentiles", "coll-percentiles", windows)
    op("ewma", "ewma-timeless", base)
    op("throttle", "throttle", base)
    op("above_dt", "above-dt", base)
    op("smax", "smax", base)
    op("coalesce", "coalesce", base)
  }

  private def dedupOperators(node: Path => Node, schema: StructType, in: Path, t: Tracer,
                             layers: mutable.Map[String, Double]): Unit = {
    val tree = node(Paths.get("unused"))
    val base = materialize(t, "corpus", spark.read.schema(schema).json(in.resolve("corpus.json").toString))
    def op(name: String, action: String, input: DataFrame, keep: Boolean): (DataFrame, JobStats.Snap) = {
      val before = t.jobs.snapshot()
      val s = System.nanoTime()
      val out = t.span(name, "operators", name) {
        val df = Engine.applyOp(action, params(tree, action), Nil, ctx)(input)
        if (keep) materialize(t, name, df) else { df.write.format("noop").mode("overwrite").save(); df }
      }
      layers(s"operators.${name}_s") = (System.nanoTime() - s) / 1e9
      (out, t.jobs.snapshot() - before)
    }
    val (exact, _) = op("dedup_exact", "dedup-exact", base, keep = true)
    val (pairs, joinStats) = op("jaccard_join", "jaccard-join", exact, keep = true)
    op("cluster_star", "dedup-cluster-star", pairs, keep = false)
    // verified pairs per record the join shuffled: the candidate waste ratio
    layers("operators.pair_yield") = pairs.count().toDouble / math.max(1L, joinStats.shuffleRecordsWritten)
  }

  private def materialize(t: Tracer, name: String, df: DataFrame): DataFrame =
    t.span(s"materialize-$name", "gen", name) { val c = df.cache(); c.count(); c }

  private def params(tree: Node, action: String): Seq[Any] = {
    def find(n: Node): Option[Node] =
      if (n.action == action) Some(n) else n.children.iterator.map(find).collectFirst { case Some(x) => x }
    find(tree).getOrElse(throw new IllegalArgumentException(s"no '$action' in the stream set")).params
  }

  private def finishTrace(t: Tracer, work: Path, layers: mutable.Map[String, Double],
                          fields: mutable.Map[String, String]): Unit = {
    t.uninstall()
    t.selfMs.foreach { case (layer, ms) => layers(s"$layer.self_ms") = ms }
    layers("trace.spans") = t.spans.size.toDouble
    val spans = work.resolve("spans.jsonl")
    t.writeSpans(spans)
    fields("spans") = Json.str(spans.toString)
    fields("layers") = Json.obj(layers.map { case (k, v) => k -> Json.num(v) })
  }

  // ------------------------------------------------------------ serve

  /** The server's per-frame path replayed in-process through the same
    * public functions `RiemannTcpServer` calls, in order: decode → push →
    * publish → ack encode.  Sockets are bypassed; one websocket subscriber
    * is attached so publish runs its job.
    */
  private def serveTraced(in: Path, work: Path, seconds: Double, t: Tracer,
                          fields: mutable.Map[String, String]): Unit = {
    val registry = new StreamRegistry(ctx)
    registry.loadFrom(in.resolve("streams").toString)
    val hub = new WebSocketHub(0).start()
    val cp = new ControlPlane(registry, spark, 0, websockets = Some(hub)).start()
    val sub = new WsSub(hub.boundPort, "alerts")
    val frames = RiemannCodec.frames(Files.readAllBytes(in.resolve("frames.bin")))
    val extra = Files.readString(in.resolve("extra_stream.json"))
    val pushed = mutable.ArrayBuffer[Int]()
    val s = spark
    import s.implicits._
    var seq = 0L
    def toEvent(r: RiemannCodec.RiemannEvent): Event = {
      // RiemannTcpServer's private wire -> canonical mapping
      seq += 1
      Event(host = r.attributes.get("host"), service = r.service, name = None, state = r.state,
        metric = r.metric, time = r.time.getOrElse(System.currentTimeMillis() * 1000000L),
        ttl = r.ttl.map(_.toDouble), description = r.description, tags = r.tags,
        attributes = r.attributes - "host", eventId = seq)
    }
    var nextMetrics = 0L; var nextMutate = 0L; var added = false
    def control(x: Tracer): Unit = {
      val now = System.nanoTime()
      if (now >= nextMetrics) {
        x.span("metrics_get", "http", "control") { httpGet(cp.boundPort, "/metrics") }
        nextMetrics = now + 250000000L
      }
      if (now >= nextMutate) {
        x.span("registry_mutate", "ir", "control") {
          if (added) registry.remove("extra") else registry.addJson(extra)
        }
        added = !added
        nextMutate = now + 1000000000L
      }
    }
    def frame(x: Tracer, i: Int): Unit = x.span("frame", "gen", s"frame-$i") {
      val req = s"frame-$i"
      val evs = x.span("decode", "sources", req) { RiemannCodec.decodeMsg(frames(i)) }
      val df = x.span("to_rows", "sources", req) { s.createDataset(evs.map(toEvent)).toDF() }
      val results = x.span("push", "ir", req) { registry.push(df, "default") }
      x.span("publish", "http", req) { results.values.foreach(hub.publish) }
      x.span("ack_encode", "sources", req) { RiemannCodec.frame(RiemannCodec.encodeMsg(Nil, ok = Some(true))) }
      pushed += i
    }
    val off = new Tracer(spark, false)
    val warm = 20
    (0 until warm).foreach(frame(off, _))
    // a third of the budget untraced, the same frames traced, then the
    // same frames untraced again: overhead is traced against the mean of both
    val plainStart = System.nanoTime()
    var i = warm
    while (System.nanoTime() - plainStart < seconds * 1e9 / 3 && i < frames.size) { control(off); frame(off, i); i += 1 }
    val plainMs = (System.nanoTime() - plainStart) / 1e6
    val n = i - warm
    t.install()
    val before = t.jobs.snapshot()
    val tracedStart = System.nanoTime()
    (warm until warm + n).foreach { k => control(t); frame(t, k) }
    val tracedMs = (System.nanoTime() - tracedStart) / 1e6
    val js = t.jobs.snapshot() - before
    t.uninstall()
    val againStart = System.nanoTime()
    (warm until warm + n).foreach { k => control(off); frame(off, k) }
    val againMs = (System.nanoTime() - againStart) / 1e6
    val (received, dropped) = sub.drain()
    hub.stop(); cp.stop()
    val layers = mutable.LinkedHashMap[String, Double]()
    layers("trace.overhead_share") = tracedMs / ((plainMs + againMs) / 2) - 1
    layers("sources.decode_us") = spanMean(t, "decode") * 1000
    layers("sources.ack_encode_us") = spanMean(t, "ack_encode") * 1000
    layers("ir.push_plan_ms") = spanMean(t, "push")
    layers("ir.registry_mutate_ms") = spanMean(t, "registry_mutate")
    layers("http.publish_ms") = spanMean(t, "publish")
    layers("http.metrics_get_ms") = spanMean(t, "metrics_get")
    layers("spark.jobs_per_push") = js.jobs.toDouble / n
    layers("spark.stages_per_push") = js.stages.toDouble / n
    layers("spark.tasks_per_push") = js.tasks.toDouble / n
    layers("spark.sched_delay_ms") = if (js.tasks == 0) 0 else js.schedDelayMs.toDouble / js.tasks
    layers("spark.gc_ms") = js.gcMs.toDouble
    layers("spark.task_busy_share") = js.runMs / (tracedMs * spark.sparkContext.defaultParallelism)
    layers("spark.max_task_share") = t.jobs.maxTaskShare
    layers("spark.failed_jobs") = js.failedJobs.toDouble
    val phases = t.planning.snapshot()
    layers("ir.analysis_ms") = phases.getOrElse("analysis", 0L).toDouble / n
    layers("ir.optimization_ms") = phases.getOrElse("optimization", 0L).toDouble / n
    layers("ir.planning_ms") = phases.getOrElse("planning", 0L).toDouble / n
    val pub = work.resolve("published.jsonl")
    Files.write(pub, received.asJava, UTF_8)
    fields("published") = Json.str(pub.toString)
    fields("pushed") = pushed.mkString("[", ",", "]")
    fields("failed") = (if (dropped) 1 else 0).toString
    fields("attempted") = (pushed.size + 1).toString
    fields("op_ms") = Json.arr(t.spans.asScala.filter(_.name == "frame").map(_.ms))
    fields("pass_ms") = Json.arr(Seq(tracedMs))
    finishTrace(t, work, layers, fields)
  }

  private def httpGet(port: Int, path: String): Int = {
    val c = new java.net.URI(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try { val code = c.getResponseCode; c.getInputStream.readAllBytes(); code } finally c.disconnect()
  }

  // ------------------------------------------------------------ helpers

  private def spanMean(t: Tracer, name: String): Double =
    mean(t.spans.asScala.toSeq.filter(_.name == name).map(_.ms))

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** (rows, bytes) of the part files under an output root. */
  private def outputSize(root: Path): (Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L)
    val w = Files.walk(root)
    try {
      val parts = w.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.startsWith("part-") && !p.toString.contains("/_")
      }.toSeq
      (parts.map(p => Files.lines(p).count()).sum, parts.map(Files.size).sum)
    } finally w.close()
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal websocket subscriber: upgrade, then collect text frames. */
final class WsSub(port: Int, channel: String) {
  private val sock = new java.net.Socket("127.0.0.1", port)
  private val in = new java.io.DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
  private val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var closed = false
  sock.getOutputStream.write((s"GET /channel/$channel HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
    "Upgrade: websocket\r\nConnection: Upgrade\r\nSec-WebSocket-Key: cGVyZmJlbmNoLXN1YnNjcmli\r\n" +
    "Sec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
  private val head = new StringBuilder
  while (!head.endsWith("\r\n\r\n")) head += in.readUnsignedByte().toChar
  require(head.startsWith("HTTP/1.1 101"), s"websocket upgrade refused: ${head.take(40)}")
  private val reader = new Thread(() => {
    try while (true) {
      val b0 = in.readUnsignedByte(); val b1 = in.readUnsignedByte()
      var n = (b1 & 0x7f).toLong
      if (n == 126) n = in.readUnsignedShort().toLong else if (n == 127) n = in.readLong()
      val data = new Array[Byte](n.toInt); in.readFully(data)
      if ((b0 & 0x0f) == 1) got.add(new String(data, UTF_8))
      if ((b0 & 0x0f) == 8) throw new java.io.EOFException
    } catch { case _: java.io.IOException => closed = true }
  }, "perfbench-ws")
  reader.setDaemon(true)
  reader.start()

  /** Wait until no frame arrived for a second; returns every frame and
    * whether the server dropped the subscription before that.
    */
  def drain(): (Seq[String], Boolean) = {
    var last = -1
    while (got.size != last) { last = got.size; Thread.sleep(1000) }
    val dropped = closed
    try sock.close() catch { case _: java.io.IOException => }
    (got.asScala.toSeq, dropped)
  }
}
