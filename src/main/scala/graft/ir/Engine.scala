package graft.ir

import graft.conditions.Condition
import graft.operators.{Analytics, Stateless, Windows}
import graft.sinks.FileSink
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import scala.collection.mutable

/** Engine context: test-mode gating and the user plugin registry.
  *
  * `testMode` mirrors the reference's `:test-mode?`
  * (`/root/reference/src/clojure/mirabelle/action.clj:692-694, 1710-1751`):
  * taps record, `io` subtrees and sinks are suppressed.
  *
  * `custom` mirrors the custom-action registry resolved at compile time
  * (`stream.clj:29-34`): name → params → DataFrame transform.
  */
final case class EngineCtx(
    testMode: Boolean = false,
    custom: Map[String, Seq[Any] => DataFrame => DataFrame] = Map.empty,
    /** Named outputs for `output!` (reference config-file outputs wired in
      * `stream.clj:69-115`; `output!*` resolves by name or fails,
      * `action.clj:690-719`): name → side-effecting writer. The library
      * ships `file` ([[graft.sinks.FileSink]]) and payload encoders for
      * elasticsearch/pagerduty/prometheus ([[graft.sinks.Encode]]); users
      * register transport wrappers here.
      */
    outputs: Map[String, DataFrame => Unit] = Map.empty,
    /** Pluggable window-aggregation pairs for `aggr-custom` (the
      * reference's user-extensible `keyword->aggr-fn` registry,
      * `action.clj:2285-2374`): name → args → aggregation Column. See
      * [[graft.functions.Aggregators]] for the typed-Aggregator route.
      */
    aggregators: Map[String, Seq[Any] => org.apache.spark.sql.Column] = Map.empty,
    /** reinject! is executed by re-running the target pipeline on the
      * reinjected frame; this bounds pipeline-level cycles (the reference
      * allows true cycles because it is push-per-event; a declarative plan
      * cannot, so depth-capped unrolling is the batch analog —
      * `action.clj:1643-1678`, SURVEY §7.4.2).
      */
    maxReinjectDepth: Int = 4)

/** One file-sink request (reference `output/file.clj:10-50`): JSON lines,
  * path templating ≈ partition columns.
  */
final case class SinkSpec(path: String, partitionFields: Seq[String],
                          datePattern: Option[String])

/** Everything a pipeline run produced: named tap captures (test mode),
  * leaf outputs (frames with no further children), and sink writes that
  * were executed (empty in test mode).
  */
final class StreamResult {
  val taps: mutable.LinkedHashMap[String, DataFrame] = mutable.LinkedHashMap()
  val outputs: mutable.ListBuffer[DataFrame] = mutable.ListBuffer()
  val sinks: mutable.ListBuffer[(SinkSpec, DataFrame)] = mutable.ListBuffer()
  /** `publish!` channels (`action.clj:1983-2005`, `pubsub.clj:5-30`): the
    * in-proc pubsub surface; [[subscribe]] is the websocket subscriber's
    * server-side condition filter (`websocket.clj:47-78`).
    */
  val channels: mutable.LinkedHashMap[String, DataFrame] = mutable.LinkedHashMap()
  /** `output!` sends that were executed (empty in test mode). */
  val outputSends: mutable.ListBuffer[(String, DataFrame)] = mutable.ListBuffer()
  /** Live query handles for sinks attached to streaming frames; the
    * caller owns their lifecycle (await/stop).
    */
  val streamingQueries: mutable.ListBuffer[org.apache.spark.sql.streaming.StreamingQuery] =
    mutable.ListBuffer()
  private[ir] val reinjects: mutable.ListBuffer[(String, DataFrame, Int)] = mutable.ListBuffer()

  def subscribe(channel: String, condition: Condition): DataFrame =
    channels.getOrElse(channel,
        throw new IllegalArgumentException(s"unknown channel '$channel'"))
      .filter(condition.column)

  private[ir] def recordTap(name: String, df: DataFrame): Unit =
    taps(name) = taps.get(name).map(_.unionAll(df)).getOrElse(df)

  private[ir] def recordChannel(name: String, df: DataFrame): Unit =
    channels(name) = channels.get(name).map(_.unionAll(df)).getOrElse(df)
}

/** The IR interpreter: `Node => (DataFrame => DataFrame)` per action, plus
  * the tree walk — the Spark analog of the reference's closure compiler
  * (`stream.clj:23-57` + registry `action.clj:3037-3114`). Catalyst is the
  * second compilation stage: the interpreter only *declares* the plan, so
  * chained IR actions fuse, push down and codegen exactly like hand-written
  * DataFrame code — interpretation cost is per-QUERY, never per-row.
  *
  * `by` is special-cased as in the reference (`stream.clj:38-44`): instead
  * of re-compiling the subtree per fork, the grouping keys are threaded
  * into every downstream windowed/stateful operator — Spark's partitioning
  * replaces fork management.
  */
object Engine {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Run one pipeline over an input frame. `include` nodes (config-layer
    * snippet reuse, `action.clj:2249-2277`) are expanded before
    * interpretation.
    */
  def run(node: Node, input: DataFrame, ctx: EngineCtx = EngineCtx(),
          registry: StreamRegistry = null): StreamResult = {
    // expand ONCE: both the preflight walk and the interpreter consume
    // the expanded tree (preflightWarnings expands only when handed a
    // raw tree)
    val expanded = Node.expandIncludes(node)
    preflightWarnings(expanded).foreach(w => log.warn(s"pipeline preflight: $w"))
    val res = new StreamResult
    interp(expanded, input, Nil, ctx, res, registry, depth = 0)
    drainReinjects(ctx, res, registry)
    res
  }

  /** Composition lints run before interpretation — warnings for chains
    * that are individually correct but compose into a known footgun.
    * Currently one rule: `split-by-hash` upstream of a decontamination
    * stage. Hash-splitting DOCUMENTS puts near-duplicates of the same
    * page on both sides of the train/bench fence, so exact-shingle
    * decontam then (correctly) flags essentially every duplicated train
    * doc — the whole-chain ×100 probe measured `clean = 0` survivors on
    * a replica-heavy corpus (SCALING.md). The split that composes with
    * decontam is `cluster-split` (near-dup clusters atomic across the
    * fence); `dup-rate-estimate` is the cheap probe for whether a
    * corpus is duplicate-heavy enough to care. Pure function of the
    * tree (spec-pinned); [[run]] logs each warning at WARN.
    */
  def preflightWarnings(node: Node): Seq[String] = {
    val decontam = Set("decontam-exact", "decontam-fuzzy", "decontam-overlap")
    def descendants(n: Node): Iterator[Node] =
      n.children.iterator.flatMap(c => Iterator.single(c) ++ descendants(c))
    def walk(n: Node): Seq[String] = {
      val here =
        if (n.action == "split-by-hash") {
          val downstream = descendants(n).map(_.action).filter(decontam).toSeq.distinct
          if (downstream.nonEmpty)
            Seq(s"split-by-hash feeds ${downstream.mkString(", ")}: document-level " +
              "hash splitting puts near-duplicates on both sides of the train/bench " +
              "fence, and decontamination will then flag every duplicated train doc " +
              "(measured clean=0 on a replica-heavy corpus). Use cluster-split for a " +
              "leakage-free fence; probe the corpus with dup-rate-estimate first.")
          else Nil
        } else Nil
      here ++ n.children.flatMap(walk)
    }
    walk(Node.expandIncludes(node))
  }

  /** Static pipeline validation — the analog of the reference's per-action
    * spec checks at config load (`mspec/valid-action?`, used by every
    * builder). Walks the tree building every node with the builder that
    * runs it, over an empty frame with the given schema: Catalyst's eager
    * analysis surfaces unknown actions, malformed params, unknown fields
    * and type errors per node, and the builders' own bound checks fire
    * with the messages `run` gives. An action that reads a runtime
    * artifact or launches Spark jobs declares its output shape beside its
    * builder ([[Staged]]), so validation never starts a Spark job. Returns
    * every problem found, each prefixed with its node path; empty = valid.
    */
  def validate(node: Node,
               spark: SparkSession,
               ctx: EngineCtx = EngineCtx(),
               schema: StructType = graft.model.Event.schema): Seq[String] = {
    val errors = Seq.newBuilder[String]
    def fail(at: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse("").linesIterator
        .nextOption().filter(_.nonEmpty).getOrElse(e.getClass.getSimpleName)
      errors += s"$at: $msg"
    }
    // the routing nodes interp handles itself; every other action is
    // built by applyOp (or sinkWrite) exactly as run builds it
    def walk(rawNode: Node, path: String, df: DataFrame, keys: Seq[String]): Unit = {
      val n = rawNode.copy(params = rawNode.params.map(deepUnmask)) // as interp reads them
      val at = s"$path/${n.action}"
      def recurse(out: DataFrame, ks: Seq[String] = keys): Unit =
        n.children.foreach(walk(_, at, out, ks))
      n.action match {
        case "sdo" | "async-queue!" | "io" => recurse(df)
        case "stream" => recurse(df) // declaration wrapper
        case "by" =>
          try { val ks = pStrs(n.params.head); ks.foreach(df(_)); recurse(df, ks) }
          catch { case e: Throwable => fail(at, e); recurse(df) }
        case "salt" =>
          try {
            val m = n.params.headOption.map(pMap).getOrElse(Map.empty)
            m.get("fields").map(pStrs).getOrElse(Nil).foreach(df(_))
            recurse(df.withColumn("__salt", lit(0)), keys :+ "__salt")
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "split" =>
          try {
            val conds = n.params.map(Condition.parse)
            // interp accepts N children (no default branch) or N+1
            if (n.children.size != conds.size && n.children.size != conds.size + 1)
              errors += s"$at: ${conds.size} conditions need ${conds.size} or ${conds.size + 1} children, got ${n.children.size}"
            conds.foreach(c => df.filter(c.column))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "publish!" => // a channel genuinely needs a name at runtime
          if (n.params.headOption.forall(pStr(_).isEmpty)) errors += s"$at: needs a name"
          recurse(df)
        // tap defaults to "test" and reinject! to "default" at runtime —
        // nameless forms are valid
        case "tap" | "reinject!" | "test-action" => recurse(df)
        case "exception-stream" =>
          if (n.children.size != 2) errors += s"$at: needs [ok, error] children"
          try df(pStr(n.params.head)) catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "custom" if !ctx.custom.contains("custom") =>
          val name = n.params.headOption.map(pStr).getOrElse("")
          if (!ctx.custom.contains(name)) errors += s"$at: unknown custom action '$name'"
          // a plugin may change the schema arbitrarily, so its subtree
          // cannot be statically checked against the input schema —
          // validating it would false-positive on every added column
        case "output!" =>
          val name = n.params.headOption.map(pStr).getOrElse("")
          if (!ctx.outputs.contains(name)) errors += s"$at: Output $name not found"
          recurse(df)
        case _ =>
          val out =
            try sinkWrite(n.action, n.params, df) match {
              case Some(_) => df
              case None => applyOp(n.action, n.params, keys, ctx) match {
                case staged: Staged => staged.shape(df)
                case build          => build(df)
              }
            } catch { case e: Throwable => fail(at, e); df }
          recurse(out)
      }
    }
    // include expansion itself can fail on config errors (missing file,
    // undefined variable, include cycle) — report, don't throw
    val expanded =
      try Node.expandIncludes(node)
      catch { case e: Throwable => fail("/include", e); null }
    if (expanded != null) walk(expanded, "", emptyFrame(spark, schema), Nil)
    errors.result()
  }

  private def drainReinjects(ctx: EngineCtx, res: StreamResult, registry: StreamRegistry): Unit =
    while (res.reinjects.nonEmpty) {
      val (name, df, depth) = res.reinjects.remove(0)
      if (depth > ctx.maxReinjectDepth)
        throw new IllegalStateException(
          s"reinject! exceeded maxReinjectDepth=${ctx.maxReinjectDepth} into stream '$name' (cycle?)")
      // "default" routes like push!: a literally-named stream wins, else
      // every default-flagged stream (stream.clj:260-268, reinject!'s
      // no-target form sends back to the default streams)
      val targets: Seq[Node] = Option(registry) match {
        case Some(reg) =>
          reg.get(name).map(Seq(_)).getOrElse {
            val defaults = if (name == "default") reg.defaults.flatMap(reg.get) else Nil
            if (defaults.nonEmpty) defaults
            else throw new IllegalArgumentException(s"reinject! into unknown stream '$name'")
          }
        case None =>
          throw new IllegalArgumentException(s"reinject! into unknown stream '$name'")
      }
      targets.foreach(t => interp(t, df, Nil, ctx, res, registry, depth))
    }

  // --------------------------------------------------------------------

  private def interp(rawNode: Node, df: DataFrame, keys: Seq[String], ctx: EngineCtx,
                     res: StreamResult, registry: StreamRegistry, depth: Int): Unit = {
    // #secret params reveal at interpretation time for the routing ops
    // handled RIGHT HERE (output-file paths, publish!/output! names,
    // custom args, ...) — applyOp deep-unmasks again for the operator
    // params it receives, which is idempotent. The Node TREE stays
    // masked everywhere it is stored or rendered.
    val n = rawNode.copy(params = rawNode.params.map(deepUnmask))
    def recurse(out: DataFrame, newKeys: Seq[String] = keys): Unit =
      if (n.children.isEmpty) res.outputs += out
      else n.children.foreach(c => interp(c, out, newKeys, ctx, res, registry, depth))

    n.action match {
      case "sdo" => recurse(df) // tee: every action already fans to all children

      case "async-queue!" => // hand subtree to a thread pool (action.clj:1680-1708)
        // Spark already schedules the whole DAG across executors, so the
        // reference's explicit thread-pool handoff has no work to do here;
        // the subtree simply continues (params = the queue name, ignored).
        recurse(df)

      case "by" => // per-key fork → grouping keys for the whole subtree
        recurse(df, newKeys = pStrs(n.params.head))

      case "salt" => // skew relief: widen downstream grouping with a salt key
        // {"buckets": N, "fields": [...]}: adds a deterministic __salt
        // column (hash of fields mod N — or of the whole row when no
        // fields are given) and appends it to the subtree's grouping keys,
        // splitting one hot key into N partitions. Aggregations over a
        // salted subtree are per (key, salt) — re-aggregate downstream
        // when a single per-key result is needed (standard two-phase agg).
        val m = n.params.headOption.map(pMap).getOrElse(Map.empty)
        val buckets = m.get("buckets").map(pLong).getOrElse(16L)
        val fields = m.get("fields").map(pStrs).getOrElse(Nil)
        val basis = if (fields.nonEmpty) fields.map(col) else df.columns.toSeq.map(col)
        val salted = df.withColumn("__salt", pmod(hash(basis: _*), lit(buckets.toInt)))
        recurse(salted, newKeys = keys :+ "__salt")

      case "split" => // first-matching-condition routing (action.clj:1109-1161)
        val conds = n.params.map(Condition.parse)
        require(n.children.size == conds.size || n.children.size == conds.size + 1,
          s"split: ${conds.size} conditions need ${conds.size} children (+1 default), got ${n.children.size}")
        n.children.zipWithIndex.foreach { case (c, i) =>
          interp(c, Stateless.splitBranch(conds, i)(df), keys, ctx, res, registry, depth)
        }

      case "tap" | "test-action" => // test capture (action.clj:1724-1751;
        // test-action is the reference's internal recording child,
        // action.clj:391-402 — same semantics under a named tap)
        if (ctx.testMode) res.recordTap(n.params.headOption.map(pStr).getOrElse("test"), df)
        recurse(df)

      case "publish!" => // in-proc pubsub channel (action.clj:1983-2005)
        res.recordChannel(pStr(n.params.head), df)
        recurse(df)

      case "io" => // side-effect subtree, suppressed in test mode (action.clj:1710-1722)
        if (!ctx.testMode) recurse(df)

      case "exception-stream" =>
        // Spark cannot try/catch per row inside a declarative plan
        // (action.clj:1789-1827 wraps the subtree); the batch analog is the
        // bad-record pattern: rows whose marker field came out NULL (e.g. a
        // failed from-json parse) route to the error child with
        // state="error", the rest to the first child.
        require(n.children.size == 2, "exception-stream needs [ok, error] children")
        val field = pStr(n.params.head)
        interp(n.children.head, df.filter(col(field).isNotNull), keys, ctx, res, registry, depth)
        interp(n.children(1),
          df.filter(col(field).isNull).withColumn("state", lit("error")),
          keys, ctx, res, registry, depth)

      case "reinject!" => // queued, drained by run() with a depth cap
        val target = n.params.headOption.map(pStr).getOrElse("default")
        res.reinjects += ((target, df, depth + 1))

      case "custom" if ctx.custom.contains("custom") =>
        // a registered action literally NAMED "custom" wins over the
        // indirection — the reference's merge order puts custom-actions
        // over builtins (stream.clj:29-34), and its own test fixtures
        // register :custom as an action name
        recurse(ctx.custom("custom")(n.params)(df))

      case "custom" => // user plugin indirection: params = [name, args...]
        val name = pStr(n.params.head)
        val fn = ctx.custom.getOrElse(name,
          throw new IllegalArgumentException(s"unknown custom action '$name'"))
        recurse(fn(n.params.tail)(df))

      case "output!" => // forward to a configured named output (action.clj:690-719)
        val name = pStr(n.params.head)
        if (ctx.testMode) () // "Outputs are automatically discarded in test mode"
        else {
          val out = ctx.outputs.getOrElse(name,
            throw new IllegalArgumentException(s"Output $name not found"))
          out(df)
          res.outputSends += ((name, df))
        }
        recurse(df)

      case _ =>
        sinkWrite(n.action, n.params, df) match {
          case Some(write) => if (!ctx.testMode) write(res); recurse(df)
          case None        => recurse(applyOp(n.action, n.params, keys, ctx)(df))
        }
    }
  }

  /** The file and index sinks, one param decode each: the decode checks
    * every param and resolves every column the sink writes, so
    * [[validate]] and [[interp]] share it. Only `interp` runs the returned
    * write, and only outside test mode. `None` for every other action.
    */
  private def sinkWrite(action: String, params: Seq[Any],
                        df: DataFrame): Option[StreamResult => Unit] = {
    lazy val m = pMap(params.head)
    def column(key: String): String = { val c = pStr(m(key)); df(c); c }
    def opt(key: String, default: Int): Int = m.get(key).map(pLong(_).toInt).getOrElse(default)
    def shards: Int = {
      val s = pLong(m("shards"))
      require(s >= 1, "shards must be >= 1")
      s.toInt
    }
    action match {
      case "output-file" => // file sink (output/file.clj:10-50)
        val spec = SinkSpec(pStr(m("path")),
          m.get("fields").map(pStrs).getOrElse(Nil), m.get("date-pattern").map(pStr))
        spec.partitionFields.foreach(df(_))
        Some { res =>
          if (df.isStreaming) res.streamingQueries += FileSink.writeStream(df, spec)
          else FileSink.write(df, spec)
          res.sinks += ((spec, df))
        }
      case "output-bucketed" => // bucketed managed-table sink
        val (table, buckets, keys) = (pStr(m("table")), pLong(m("buckets")).toInt, pStrs(m("keys")))
        keys.foreach(df(_))
        Some(_ => FileSink.writeBucketed(df, table, buckets, keys))
      case "output-warc" => // WARC archive export
        val (path, uri, date, payload) =
          (pStr(m("path")), column("uri"), column("date"), column("payload"))
        val gzip = m.get("gzip").forall(_.asInstanceOf[Boolean])
        Some(_ => graft.sources.Warc.writeArchives(
          df.withColumn("__rec", graft.sources.Warc.recordBytes(col(uri), col(date), col(payload))),
          "__rec", path, gzip))
      case "output-tfrecord" => // TFRecord shard export
        val (path, payload) = (pStr(m("path")), column("payload"))
        val gzip = m.get("gzip").exists(_.asInstanceOf[Boolean])
        Some(_ => graft.sources.TfRecord.writeShards(
          df.withColumn("__rec", graft.sources.TfRecord.frame(col(payload))), "__rec", path, gzip))
      case "output-zordered" => // Z-order clustered parquet export
        val (path, n) = (pStr(m("path")), shards)
        val cols = pStrs(m("cols"))
        cols.foreach(df(_))
        val bits = opt("bits", 16)
        Some(_ => graft.sources.Layout.writeZOrdered(df, cols.map(col), path, n, bits))
      case "output-hilbert" => // Hilbert-clustered parquet export
        val (path, n, x, y) = (pStr(m("path")), shards, column("x"), column("y"))
        val bits = opt("bits", 16)
        Some(_ => graft.sources.Layout.writeHilbertOrdered(df, col(x), col(y), path, n, bits))
      case "output-bm25-index" => // persist the BM25 postings index
        val (path, id, text) = (pStr(m("path")), column("id"), column("text"))
        val buckets = opt("buckets", 64)
        Some(_ => graft.operators.Retrieval.buildBm25Index(df, id, text, path, buckets))
      case "append-bm25-index" => // delta-append to an existing index
        val (path, id, text) = (pStr(m("path")), column("id"), column("text"))
        Some(_ => graft.operators.Retrieval.appendBm25Index(df, id, text, path))
      case "output-dedup-store" => // persist the dedup signature index
        val (path, id, text) = (pStr(m("path")), column("id"), column("text"))
        val (k, rowsPerBand, buckets) = (opt("k", 8), opt("rows-per-band", 2), opt("buckets", 64))
        Some(_ => graft.operators.IncrementalDedup.writeStore(df, text, id, path,
          k, rowsPerBand, buckets))
      case "output-substring-store" => // persist the window-hash store
        val (path, id, text) = (pStr(m("path")), column("id"), column("text"))
        val (minLen, buckets) = (opt("min-len", 50), opt("buckets", 64))
        Some(_ => graft.operators.SubstringStore.writeStore(df, text, id, path, minLen, buckets))
      case _ => None
    }
  }

  // --------------------------------------------------------------------
  // Per-action builders: every non-routing operator the library implements
  // (the analog of action->fn, action.clj:3037-3114).
  // --------------------------------------------------------------------

  def applyOp(action: String, rawParams: Seq[Any], keys: Seq[String],
              ctx: EngineCtx): DataFrame => DataFrame = {
    // plan construction is THE use site of every param (the twin of the
    // reference's cloak/unmask inside its output components), so masked
    // values reveal here — recursively, covering conditions, nested
    // seqs, and map values alike. Node trees themselves (logs, getJson,
    // saveTo) keep the mask.
    val params = rawParams.map(deepUnmask)
    // custom actions dispatch BY NAME and OVERRIDE builtins — the
    // reference's `(merge action->fn custom-actions)` lookup order
    // (`stream.clj:29-34`); the explicit `custom` indirection stays for
    // callers that prefer not to shadow.
    ctx.custom.get(action) match {
      case Some(fn) => fn(params)
      case None     => applyOpUnmasked(action, params, keys, ctx)
    }
  }

  private def deepUnmask(p: Any): Any = p match {
    case s: Edn.Secret => deepUnmask(s.reveal)
    case xs: Seq[_]    => xs.map(deepUnmask)
    case m: Map[_, _]  => m.asInstanceOf[Map[Any, Any]]
      .map { case (k, v) => k -> deepUnmask(v) } // ListMap.map keeps order
    case other         => other
  }

  private def applyOpUnmasked(action: String, params: Seq[Any], keys: Seq[String],
              ctx: EngineCtx): DataFrame => DataFrame = action match {
    // §2.2 filters
    case "where"       => Stateless.where(Condition.parse(params.head))
    case "over"        => Stateless.over(pDouble(params.head))
    case "under"       => Stateless.under(pDouble(params.head))
    case "tagged-all"  => Stateless.taggedAll(pStrs(params.head))
    case "expired"     => df => Stateless.expiredBatch(df)
    case "not-expired" => Stateless.notExpiredBatch

    // §2.3 transforms
    case "increment"   => Stateless.increment
    case "decrement"   => Stateless.decrement
    case "scale"       => Stateless.scale(pDouble(params.head))
    case "with"        => Stateless.withFields(pMap(params.head))
    case "default"     => Stateless.default(pStr(params.head), params(1))
    case "sdissoc"     => Stateless.sdissoc(pStrs(params.head))
    case "keep-keys"   => Stateless.keepKeys(pStrs(params.head))
    // toSeq of the ListMap-backed param map: pairs apply in DOCUMENT order
    case "rename-keys" => Stateless.renameKeys(pMap(params.head).toSeq.map { case (k, v) => k -> pStr(v) })
    case "tag"         => Stateless.tag(pStrs(params.head))
    case "untag"       => Stateless.untag(pStrs(params.head))
    case "sformat"     => Stateless.sformat(pStr(params.head), pStr(params(1)), pStrs(params(2)))
    case "to-string"   => Stateless.toStringField(pStr(params.head))
    case "to-base64"   => Stateless.toBase64(pStr(params.head))
    case "from-base64" => Stateless.fromBase64(pStr(params.head))
    case "from-json"   => Stateless.fromJson(pStr(params.head))
    case "extract"     => Stateless.extract(pStr(params.head))
    case "iterate-on"  => Stateless.iterateOn(pStr(params.head), pStr(params(1)))
    case "sflatten"    => Stateless.sflatten(params.headOption.map(pStr).getOrElse("events"))
    case "debug" | "info" | "error" => Stateless.logEvents(action)

    // §2.5 windows (keys = enclosing `by` fork). On a streaming frame the
    // same IR node compiles to the watermarked Structured Streaming twin;
    // the optional "delay" param is the reference's allowed lateness
    // (action.clj:2419-2432) and becomes the watermark delay.
    case "fixed-time-window" => df =>
      if (df.isStreaming) Streaming.fixedTimeWindow(durOf(params), delayOf(params), keys)(df)
      else Windows.fixedTimeWindow(durOf(params), keys)(df)
    case "sum" => df =>
      if (df.isStreaming) Streaming.sumWindow(durOf(params), delayOf(params), keys)(df)
      else Windows.sumWindow(durOf(params), keys)(df)
    case "mean" => df =>
      if (df.isStreaming) Streaming.meanWindow(durOf(params), delayOf(params), keys)(df)
      else Windows.meanWindow(durOf(params), keys)(df)
    case "rate" => df =>
      if (df.isStreaming) Streaming.rateWindow(durOf(params), delayOf(params), keys)(df)
      else Windows.rateWindow(durOf(params), keys)(df)
    case "top" => df =>
      if (df.isStreaming) Streaming.topWindow(durOf(params), delayOf(params), keys)(df)
      else Windows.topWindow(durOf(params), keys)(df)
    case "bottom" => df =>
      if (df.isStreaming) Streaming.bottomWindow(durOf(params), delayOf(params), keys)(df)
      else Windows.bottomWindow(durOf(params), keys)(df)
    case "aggr-custom" => df =>
      // pluggable aggregation pair (keyword->aggr-fn registry,
      // action.clj:2285-2374): params = {duration, name, args?, delay?}
      val m = pMap(params.head)
      val name = pStr(m("name"))
      val aggOf = ctx.aggregators.getOrElse(name,
        throw new IllegalArgumentException(s"unknown aggregator '$name'"))
      val argsOf = m.get("args") match {
        case Some(xs: Seq[_]) => xs.toSeq
        case Some(x)          => Seq(x)
        case None             => Nil
      }
      if (df.isStreaming)
        Streaming.customWindow(durOf(params), delayOf(params), aggOf(argsOf), keys)(df)
      else Windows.customWindow(durOf(params), aggOf(argsOf), keys)(df)

    case "ratio" =>
      val m = pMap(params.head)
      val (c1, c2) = (Condition.parse(m("cond1")), Condition.parse(m("cond2")))
      val useMetric = m.get("metric").exists(_ == true)
      df =>
        if (df.isStreaming)
          Streaming.ratioWindow(pLong(m("duration")), delayOf(params), c1, c2, useMetric, keys)(df)
        else Windows.ratioWindow(pLong(m("duration")), c1, c2, useMetric, keys)(df)
    case "ssort" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming) Streaming.ssort(pLong(m("duration")), delayOf(params), pStr(m("field")), keys)(df)
        else Windows.ssort(pLong(m("duration")), pStr(m("field")), keys)(df)
    case "coalesce" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming) Streaming.coalesceWindow(pLong(m("duration")), delayOf(params), pStrs(m("fields")))(df)
        else Windows.coalesceWindow(pLong(m("duration")), pStrs(m("fields")))(df)
    // `project` is one plan for both runtimes: the unwindowed conditional
    // max_by aggregate IS the streaming current-state view — run the sink
    // in update/complete mode (StreamingSpec pins stream == batch).
    case "project"     => Windows.project(params.head.asInstanceOf[Seq[Any]].map(Condition.parse))
    case "percentiles" =>
      // full-event per-quantile output like the reference (action.clj:2845-2929):
      // tumbling window payload + event-identity percentile pick; the
      // payload window is the streaming one on a streaming frame and
      // collPercentiles is a pure post-agg projection either way
      val m = pMap(params.head)
      val qs = pDoubles(m("quantiles"))
      df =>
        val windowed =
          if (df.isStreaming) Streaming.fixedTimeWindow(pLong(m("duration")), delayOf(params), keys)(df)
          else Windows.fixedTimeWindow(pLong(m("duration")), keys)(df)
        Windows.collPercentiles(qs)(windowed)
    case "coll-increase" => Windows.collIncrease(durOf(params), keys)

    case "fixed-event-window" => df =>
      // streaming output carries (key, windowId, events) — see Streaming
      if (df.isStreaming) Streaming.fixedEventWindow(sizeOf(params), keys)(df).toDF()
      else Analytics.fixedEventWindow(sizeOf(params), keys)(df)
    case "moving-event-window" => df =>
      if (df.isStreaming)
        Streaming.movingEventWindow(sizeOf(params), keys)(df).toDF().select(col("event.*"), col("events"))
      else Analytics.movingEventWindow(sizeOf(params), keys)(df)
    case "moving-time-window" => df =>
      if (df.isStreaming)
        Streaming.movingTimeWindow(durOf(params), keys)(df).toDF().select(col("event.*"), col("events"))
      else Analytics.movingTimeWindow(durOf(params), keys)(df)
    case "throttle" =>
      val m = pMap(params.head)
      Analytics.throttle(pLong(m("count")).toInt, pLong(m("duration")), keys)
    case "stable" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming) Streaming.stable(pLong(m("dt")), pStr(m("field")), keys)(df).toDF()
        else Analytics.stable(pLong(m("dt")), pStr(m("field")), keys)(df)
    case "changed" =>
      val m = pMap(params.head)
      val init = m("init") match { case s: String => pStr(s); case other => other }
      Analytics.changed(pStr(m("field")), init, keys)
    case "above-dt" =>
      val m = pMap(params.head)
      Analytics.aboveDt(pDouble(m("threshold")), pLong(m("duration")), keys)
    case "below-dt" =>
      val m = pMap(params.head)
      Analytics.belowDt(pDouble(m("threshold")), pLong(m("duration")), keys)
    case "between-dt" =>
      val m = pMap(params.head)
      Analytics.betweenDt(pDouble(m("low")), pDouble(m("high")), pLong(m("duration")), keys)
    case "outside-dt" =>
      val m = pMap(params.head)
      Analytics.outsideDt(pDouble(m("low")), pDouble(m("high")), pLong(m("duration")), keys)
    case "cond-dt" =>
      val m = pMap(params.head)
      Analytics.condDt(Condition.parse(m("condition")), pLong(m("duration")), keys)
    case "sessionize" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming)
          Streaming.sessionize(pLong(m("gap")), delayOf(params), keys)(df)
        else Analytics.sessionize(pLong(m("gap")), keys)(df)
    case "ddt"           => Analytics.ddt(keys)
    case "ddt-pos"       => Analytics.ddtPos(keys)
    case "ewma-timeless" => Analytics.ewmaTimeless(pDouble(params.head), keys)
    case "smax"          => Analytics.smax(keys)
    case "smin"          => Analytics.smin(keys)

    // §2.6 collection aggregates
    case "coll-mean"     => Windows.collMean
    case "coll-sum"      => Windows.collSum
    case "coll-count"    => Windows.collCount
    case "coll-rate"     => Windows.collRate
    case "coll-quotient" => Windows.collQuotient
    case "coll-max"      => Windows.collMax
    case "coll-min"      => Windows.collMin
    case "coll-top"      => Windows.collTop(pLong(params.head).toInt)
    case "coll-bottom"   => Windows.collBottom(pLong(params.head).toInt)
    case "coll-sort"     => Windows.collSort(pStr(params.head))
    case "coll-where" => Windows.collWhere(Condition.parse(params.head))
    case "coll-percentiles" => Windows.collPercentiles(pDoubles(params.head))

    // training-data pipeline ops (first-class alongside the reference
    // surface): single-input text analysis and dedup as declarable actions
    case "text-tokens" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.tokenCount(col(pStr(params.head))))
    case "text-bpe-tokens" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.bpeTokenCount(col(pStr(params.head))))
    case "text-quality" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.qualityScore(col(pStr(params.head))))
    case "text-entropy" =>
      df => df.withColumn(pStr(params(1)),
        graft.functions.Quality.tokenEntropy(graft.functions.Text.tokens(col(pStr(params.head)))))
    case "text-langid" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.langId(col(pStr(params.head))))
    case "text-fingerprint" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.fingerprint(col(pStr(params.head))))
    case "dedup-exact" =>
      df => graft.operators.Dedup.exact(df, pStr(params.head), pStr(params(1)))
    case "dedup-within-watermark" =>
      // first arrival per key tuple wins. Streaming: horizon-bounded
      // state via dropDuplicatesWithinWatermark; batch (which sees all
      // data at once): deterministic first by (time, eventId)
      val m = pMap(params.head)
      val keys = pStrs(m("keys"))
      val delay = m.get("delay").map(pLong).getOrElse(3600L)
      df =>
        if (df.isStreaming) graft.streaming.Streaming.dedupWithinWatermark(keys, delay)(df)
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*).orderBy(col("time"), col("eventId"))
          df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        }
    case "near-dup-within-watermark" =>
      // MinHash-LSH near-dup against the earliest bucket owner within the
      // horizon; same fold on batch frames (owner = global (ts, id) min)
      val m = pMap(params.head)
      df => graft.streaming.Streaming.nearDupWithinWatermark(
        pStr(m("id")), pStr(m("text")), pStr(m("time")),
        m.get("horizon").map(pLong).getOrElse(3600L),
        m.get("k").map(pLong(_).toInt).getOrElse(8),
        m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
        m.get("max-matches-per-bucket").map(pLong(_).toInt)
          .getOrElse(graft.streaming.Streaming.AutoMatchCap))(df).toDF()
    case "dedup-fingerprint" =>
      df => graft.operators.Dedup.byFingerprint(df, pStr(params.head), pStr(params(1)))
    case "dedup-simhash" =>
      df => graft.operators.Dedup.simhash(df, pStr(params.head))
    case "dedup-minhash-lsh" =>
      val m = pMap(params.head)
      df => {
        val (pairs, audit) = graft.operators.Dedup.lshCandidatesAudited(
          df, pStr(m("text")), pStr(m("id")),
          k = m.get("k").map(pLong(_).toInt).getOrElse(8),
          rowsPerBand = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit)
        pairs
      }
    case "dedup-weighted-lsh" =>
      val m = pMap(params.head)
      df => {
        val (pairs, audit) = graft.operators.Dedup.weightedLshCandidatesAudited(
          df, pStr(m("text")), pStr(m("id")),
          k = m.get("k").map(pLong(_).toInt).getOrElse(8),
          rowsPerBand = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit)
        pairs
      }
    case "dedup-embedding" =>
      val m = pMap(params.head)
      df => {
        val (pairs, audit) = graft.operators.Dedup.embeddingNearDupBucketedAudited(
          df, pStr(m("id")), pStr(m("vec")),
          threshold = pDouble(m("threshold")),
          bits = m.get("bits").map(pLong(_).toInt).getOrElse(16),
          extraProbes = m.get("probes").map(pLong(_).toInt).getOrElse(0),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit)
        pairs
      }
    // pair list (id1, id2) → (id, cluster) labels via connected components
    case "dedup-cluster" =>
      df => graft.operators.Dedup.clusterPairs(df)
    // diameter-independent twin: large-star/small-star contraction
    case "dedup-cluster-star" =>
      df => graft.operators.Dedup.clusterPairsStar(df)
    // deterministic sampling / splitting (Sampling.scala)
    case "sample-hash" =>
      val m = pMap(params.head)
      df => graft.operators.Sampling.hashSample(df, pStr(m("id")), pDouble(m("fraction")),
        salt = m.get("salt").map(pStr).getOrElse("sample"))
    case "sample-stratified" =>
      val m = pMap(params.head)
      val fractions = pMap(m("fractions")).map { case (k, v) => k -> pDouble(v) }
      df => graft.operators.Sampling.stratifiedSample(df, pStr(m("strata")), pStr(m("id")),
        fractions, defaultFraction = m.get("default").map(pDouble).getOrElse(1.0),
        salt = m.get("salt").map(pStr).getOrElse("sample"))
    case "split-by-hash" =>
      val m = pMap(params.head)
      val weights = m("weights").asInstanceOf[Seq[Any]].map { w =>
        val wm = pMap(w)
        (pStr(wm("name")), pDouble(wm("weight")))
      }
      df => graft.operators.Sampling.splitByHash(df, pStr(m("id")), weights,
        salt = m.get("salt").map(pStr).getOrElse("split"))
    case "sample-exact-k" =>
      val m = pMap(params.head)
      df => graft.operators.Sampling.sampleExactK(df, pStr(m("group")), pStr(m("id")),
        pLong(m("k")).toInt, salt = m.get("salt").map(pStr).getOrElse("sample"))

    // corpus curation (Curation.scala) and quality scoring as declarable
    // stages over document frames
    case "line-dedup" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.lineDedup(df, pStr(m("id")), pStr(m("text")),
        m.get("line-tokens").map(pLong(_).toInt).getOrElse(7))
    case "dup-ngram-stats" =>
      val m = pMap(params.head)
      df => graft.operators.Dedup.duplicateNgramStats(df, pStr(m("text")), pStr(m("id")),
        m.get("n").map(pLong(_).toInt).getOrElse(50)) // RefinedWeb's 50-token rule
    case "dup-ngram-cut" =>
      val m = pMap(params.head)
      df => graft.operators.Dedup.cutDuplicateNgrams(df, pStr(m("text")), pStr(m("id")),
        m.get("n").map(pLong(_).toInt).getOrElse(50))
    case "shared-substring-spans" =>
      val m = pMap(params.head)
      df => graft.operators.Dedup.sharedSubstringSpans(df, pStr(m("text")), pStr(m("id")),
        m.get("min-len").map(pLong(_).toInt).getOrElse(50), // Lee et al.'s 50-token rule
        keepFirst = m.get("keep-first").exists(_.asInstanceOf[Boolean]))
    case "shared-substring-cut" =>
      val m = pMap(params.head)
      df => graft.operators.Dedup.cutSharedSubstrings(df, pStr(m("text")), pStr(m("id")),
        m.get("min-len").map(pLong(_).toInt).getOrElse(50),
        keepFirst = m.get("keep-first").forall(_.asInstanceOf[Boolean]))
    case "chunk-tokens" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.chunkTokens(df, pStr(m("id")), pStr(m("text")),
        pLong(m("size")).toInt, m.get("overlap").map(pLong(_).toInt).getOrElse(0))
    case "tfidf-topk" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.tfidfTopK(df, pStr(m("id")), pStr(m("text")),
        pLong(m("k")).toInt)
    case "tfidf-cosine-pairs" =>
      val m = pMap(params.head)
      df => graft.operators.Retrieval.tfidfCosinePairs(df, pStr(m("id")), pStr(m("text")),
        pDouble(m("threshold")), pLong(m("max-df")))
    case "cap-per-group" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.capPerGroup(df, pStr(m("group")), pStr(m("order")),
        pStr(m("id")), pLong(m("k")).toInt)
    case "token-budget" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.tokenBudgetSelect(df, pStr(m("group")), pStr(m("score")),
        pStr(m("tokens")), pStr(m("id")), pLong(m("budget")))
    case "token-budget-approx" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.tokenBudgetApprox(df, pStr(m("group")), pStr(m("score")),
        pStr(m("tokens")), pLong(m("budget")),
        buckets = m.get("buckets").map(pLong(_).toInt).getOrElse(1000))
    case "domain-mix" =>
      val m = pMap(params.head)
      val shares = pMap(m("shares")).map { case (k, v) => k -> pDouble(v) }
      df => graft.operators.Curation.domainMix(df, pStr(m("domain")), pStr(m("id")), shares,
        defaultShare = m.get("default").map(pDouble).getOrElse(0.0),
        salt = m.get("salt").map(pStr).getOrElse("mix"))
    case "pack-concat" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.packConcat(df, pStr(m("group")), pStr(m("id")),
        pStr(m("tokens")), pLong(m("seq-len")))
    case "rank-fusion" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.rankFusion(df, pStr(m("id")),
        pStrs(m("signals")), m.get("out").map(pStr).getOrElse("fused_rank"))
    case "pack-boundaries" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.sequenceBoundaries(df, pStr(m("group")),
        pStr(m("id")), pStr(m("tokens")), pLong(m("seq-len")))
    case "pack-nextfit" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.packNextFit(df, pStr(m("group")), pStr(m("id")),
        pStr(m("tokens")), pLong(m("budget")))
    case "pack-bestfit" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.packBestFit(df, pStr(m("group")), pStr(m("id")),
        pStr(m("tokens")), pLong(m("budget")))
    case "shuffle-order" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.shuffleOrder(df, pStr(m("id")),
        m.get("seed").map(pStr).getOrElse("epoch0"))
    case "curriculum-order" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.curriculumOrder(df, pStr(m("id")), pStr(m("score")),
        m.get("stages").map(pLong(_).toInt).getOrElse(4),
        m.get("seed").map(pStr).getOrElse("curriculum"))
    case "vocab-drift" | "vocab-kl" =>
      // vocab-kl adds the signed KL terms
      val m = pMap(params.head)
      val (text, otherPath) = (pStr(m("text")), pStr(m("other-path")))
      val kl = action == "vocab-kl"
      Staged(
        reads(text) { df =>
          val out = emptyFrame(df.sparkSession, graft.operators.Curation.VocabDriftSchema)
          if (kl) out.withColumn("kl_term", lit(0.0)) else out
        },
        df => {
          val other = df.sparkSession.read.parquet(otherPath)
          if (kl) graft.operators.Curation.vocabKl(df, other, text)
          else graft.operators.Curation.vocabDrift(df, other, text)
        })
    case "source-zscores" =>
      val m = pMap(params.head)
      val (group, value) = (pStr(m("group")), pStr(m("value")))
      val threshold = m.get("threshold").map(pDouble).getOrElse(3.0)
      Staged(
        reads(group, value)(_.withColumn("zscore", lit(0.0)).withColumn("is_outlier", lit(false))),
        df => graft.operators.Curation.sourceZscores(df, group, value, threshold))
    case "psi-report" =>
      val m = pMap(params.head)
      val (value, otherPath) = (pStr(m("value")), pStr(m("other-path")))
      val edges = m("edges").asInstanceOf[Seq[Any]].map(pDouble)
      require(edges.nonEmpty, "psi-report: empty edges")
      val eps = m.get("eps").map(pDouble).getOrElse(1e-6)
      Staged(fixed(graft.operators.Curation.PsiReportSchema, value),
        df => graft.operators.Curation.psiReport(df,
          df.sparkSession.read.parquet(otherPath), value, edges, eps = eps))
    case "kmv-overlap" =>
      val m = pMap(params.head)
      val (text, otherPath, k) = (pStr(m("text")), pStr(m("other-path")), pLong(m("k")))
      require(k >= 2, "kmv-overlap: k must be >= 2")
      val seed = m.get("seed").map(pStr).getOrElse("kmv")
      Staged(fixed(graft.operators.Sketches.KmvOverlapSchema, text),
        df => graft.operators.Sketches.kmvOverlap(df,
          df.sparkSession.read.parquet(otherPath), text, k.toInt, seed))
    case "vocab-coverage" =>
      // the group column's type carries through from the input frame
      val m = pMap(params.head)
      val (group, text, vocabPath) = (pStr(m("group")), pStr(m("text")), pStr(m("vocab-path")))
      val token = m.get("token").map(pStr).getOrElse("token")
      Staged(
        reads(group, text)(df => emptyFrame(df.sparkSession, StructType(df.schema(group) +:
          StructType.fromDDL("n_tokens BIGINT, n_oov BIGINT, oov_rate DOUBLE").fields))),
        df => graft.operators.Curation.vocabCoverage(df, group, text,
          df.sparkSession.read.parquet(vocabPath), tokenCol = token))
    case "zipf-fit" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.zipfFit(df, pStr(m("text")),
        m.get("min-count").map(pLong).getOrElse(1L))
    case "ngram-diversity" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.ngramDiversity(df, pStr(m("group")), pStr(m("text")),
        m.get("n").map(pLong(_).toInt).getOrElse(2))
    case "interleave-sources" =>
      val m = pMap(params.head)
      val weights = pMap(m("weights")).map { case (k, v) => k -> pDouble(v) }
      df => graft.operators.Curation.interleaveSources(df, pStr(m("source")),
        pStr(m("id")), weights, m.get("seed").map(pStr).getOrElse("interleave"))
    case "classifier-score" =>
      df => df.withColumn(pStr(params(1)),
        graft.functions.Quality.classifierScore(col(pStr(params.head))))
    case "gopher-signals" =>
      df => df.withColumn(pStr(params(1)),
        graft.functions.Quality.gopherSignals(col(pStr(params.head))))
    case "pii-redact" =>
      df => df.withColumn(pStr(params(1)),
        graft.functions.Pii.redact(col(pStr(params.head))))
    case "normalize" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Text.normalize(col(pStr(m("field"))),
          lowercase = m.get("lowercase").exists(_ == true)))
    case "unicode-normalize" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.UnicodeNormalize(col(pStr(m("field"))),
          m.get("form").map(pStr).getOrElse("NFKC")))
    case "host-edges" =>
      // host -> mentioned-host link edges from plain text
      val m = pMap(params.head)
      df => graft.operators.LinkGraph.hostEdges(df, pStr(m("host")), pStr(m("text")))
    case "anchor-edges" =>
      // host -> anchor-target-host edges from HTML
      val m = pMap(params.head)
      df => graft.operators.LinkGraph.anchorEdges(df, pStr(m("host")), pStr(m("html")))
    case "html-meta" =>
      // rel=canonical target + <title> text as new columns
      val m = pMap(params.head)
      df => {
        val h = col(pStr(m("html")))
        df.withColumn(m.get("canonical-out").map(pStr).getOrElse("canonical"),
            graft.functions.Pii.canonicalTarget(h))
          .withColumn(m.get("title-out").map(pStr).getOrElse("title"),
            graft.functions.Pii.htmlTitle(h))
      }
    case "salted-join" =>
      // hot-key-safe equi-join: big side scattered over salts, the
      // small artifact table replicated once per salt
      val m = pMap(params.head)
      val (key, id, smallPath) = (pStr(m("key")), pStr(m("id")), pStr(m("small-path")))
      val salts = pLong(m("salts"))
      require(salts >= 1, "salted-join: salts must be >= 1")
      Staged(
        // the small table's columns join the shape only when it already exists
        reads(key, id) { df =>
          val small = try df.sparkSession.read.parquet(smallPath).schema
            catch { case _: Throwable => StructType(Nil) }
          withNulls(df, nullCols(small).filterNot { case (c, _) => df.columns.contains(c) })
        },
        df => graft.operators.Joins.saltedJoin(df, df.sparkSession.read.parquet(smallPath),
          key, salts.toInt, id))
    case "bm25-query" =>
      // query frame in, ranked results out, against a persisted index
      val m = pMap(params.head)
      val (id, text, indexPath, k) =
        (pStr(m("id")), pStr(m("text")), pStr(m("index-path")), pLong(m("k")))
      require(k >= 1, "bm25-query: k must be >= 1")
      val (k1, b) =
        (m.get("k1").map(pDouble).getOrElse(1.2), m.get("b").map(pDouble).getOrElse(0.75))
      Staged(
        reads(text) { df =>
          // doc_id's type comes from the stored postings when they
          // already exist, long otherwise
          val docId = try df.sparkSession.read.parquet(s"$indexPath/postings").schema("id").dataType
            catch { case _: Throwable => LongType }
          emptyFrame(df.sparkSession, StructType(df.schema(id).copy(name = "query_id") +:
            StructType.fromDDL("rank BIGINT NOT NULL").fields ++:
            (StructField("doc_id", docId) +: StructType.fromDDL("score DOUBLE").fields)))
        },
        df => graft.operators.Retrieval.queryBm25Index(df.sparkSession, indexPath, df, id, text,
          k.toInt, k1, b))
    case "dup-rate-estimate" =>
      // planning probe: reproducible duplicate-rate estimate from a
      // deterministic hash sample
      val m = pMap(params.head)
      df => graft.operators.Dedup.dupRateEstimate(df,
        pStr(m("text")), pStr(m("id")), pDouble(m("fraction")),
        m.get("k").map(pLong(_).toInt).getOrElse(8),
        m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
        salt = m.get("salt").map(pStr).getOrElse("dupest"),
        cap = pBucketCap(m))
    case "lsh-cap-plan" =>
      // planning probe: sampled banding -> bucket-size stats ->
      // recommended max-bucket for dedup-minhash-lsh / near-dup-prune
      // (since r14 the ENFORCEMENT default is max-bucket auto; this
      // planner remains the cheap sampled sizing face for hand-set caps)
      val m = pMap(params.head)
      df => graft.operators.Dedup.maxBucketPlan(df,
        pStr(m("text")), pStr(m("id")), pDouble(m("fraction")),
        m.get("k").map(pLong(_).toInt).getOrElse(8),
        m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
        m.get("salt").map(pStr).getOrElse("capplan"),
        m.get("headroom").map(pDouble).getOrElse(4.0))
    case "dedup-lines-consecutive" =>
      // collapse runs of identical lines inside each document
      val m = pMap(params.head)
      df => graft.operators.Curation.dedupConsecutiveLines(df,
        pStr(m("text")), m.get("out").map(pStr).getOrElse("text_dedup"))
    case "ks-drift" =>
      // exact two-sample KS vs a stored snapshot
      val m = pMap(params.head)
      val (value, otherPath) = (pStr(m("value")), pStr(m("other-path")))
      val partitions = m.get("partitions").map(pLong(_).toInt).getOrElse(32)
      Staged(fixed(graft.operators.Curation.KsDriftSchema, value),
        df => graft.operators.Curation.ksDrift(df, df.sparkSession.read.parquet(otherPath),
          value, partitions))
    case "quality-cascade" =>
      // ordered keep-condition stages; first rejector labels the doc.
      // params: [{"stages":[{"name":..., "keep": <condition>}], "mode":"label"|"filter"|"report"}]
      val m = pMap(params.head)
      val stages = m("stages").asInstanceOf[Seq[Any]].map { st =>
        val sm = pMap(st)
        pStr(sm("name")) -> graft.conditions.Condition.compile(
          graft.conditions.Condition.parse(sm("keep")))
      }
      m.get("mode").map(pStr).getOrElse("label") match {
        case "filter" => df => graft.operators.Curation.cascadeFilter(df, stages)
        case "report" => df => graft.operators.Curation.cascadeReport(df, stages)
        case _        => df => graft.operators.Curation.qualityCascade(df, stages)
      }
    case "rank-normalize" =>
      // within-group percent_rank: cross-source-comparable scores
      val m = pMap(params.head)
      df => graft.operators.Curation.rankNormalize(df,
        pStr(m("group")), pStr(m("value")),
        m.get("out").map(pStr).getOrElse("pct_rank"))
    case "keep-top-fraction" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.keepTopFraction(df,
        pStr(m("group")), pStr(m("value")), pDouble(m("fraction")))
    case "preference-pairs" =>
      val m = pMap(params.head)
      df => graft.operators.Training.preferencePairs(df,
        pStr(m("group")), pStr(m("id")), pStr(m("score")),
        m.get("min-gap").map(pDouble).getOrElse(0.0))
    case "best-of-n" =>
      val m = pMap(params.head)
      df => graft.operators.Training.bestOfN(df,
        pStr(m("group")), pStr(m("id")), pStr(m("score")))
    case "dedup-pair-eval" | "dedup-pair-eval-sweep" =>
      // truth pairs from a parquet artifact; the stream is the PREDICTED
      // pair list, or for the sweep (the PR-curve face) the SCORED one
      val m = pMap(params.head)
      val truthPath = pStr(m("truth-path"))
      val (id1, id2) =
        (m.get("id1").map(pStr).getOrElse("id1"), m.get("id2").map(pStr).getOrElse("id2"))
      val report = nullCols(graft.operators.Dedup.PairEvalSchema)
      if (action == "dedup-pair-eval")
        Staged(reads(id1, id2)(df => withNulls(df.select(), report)),
          df => graft.operators.Dedup.pairEval(df, df.sparkSession.read.parquet(truthPath),
            id1, id2))
      else {
        val score = m.get("score").map(pStr).getOrElse("score")
        val thresholds = m("thresholds").asInstanceOf[Seq[Any]].map(pDouble)
        require(thresholds.nonEmpty, "dedup-pair-eval-sweep: empty threshold grid")
        Staged(reads(id1, id2, score)(df => withNulls(df.select(lit(0.0).as("threshold")), report)),
          df => graft.operators.Dedup.pairEvalSweep(df, df.sparkSession.read.parquet(truthPath),
            thresholds, id1, id2, score))
      }
    case "chunk-sentences" =>
      // boundary-respecting greedy chunking for retrieval
      val m = pMap(params.head)
      df => graft.operators.Curation.chunkSentences(df,
        pStr(m("id")), pStr(m("text")), pLong(m("max-tokens")).toInt)
    case "script-profile" =>
      // per-script character counts + dominant writing script
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("script_profile"),
        graft.functions.Text.scriptProfile(col(pStr(m("text")))))
    case "readability" =>
      // Flesch/FK readability bundle as a struct column
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("readability"),
        graft.functions.Quality.readabilitySignals(col(pStr(m("text")))))
    case "mojibake-repair" =>
      // undo a single UTF-8-as-cp1252 misdecode (map-side replace chain)
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Mojibake.repair(col(pStr(m("field")))))
    case "mojibake-filter" =>
      // drop pages whose encoding-corruption rate exceeds max-score
      val m = pMap(params.head)
      val maxScore = m.get("max-score").map(pDouble).getOrElse(0.001)
      df => df.filter(
        graft.functions.Mojibake.score(col(pStr(m("text")))) <= maxScore)
    case "s-stem" =>
      // Harman plural stemmer on a lowercase-token column
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Text.sStem(col(pStr(m("field")))))
    case "hashing-tf" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.HashingTfExpr(
          graft.functions.Text.tokens(col(pStr(m("field")))),
          pLong(m("dim")).toInt, m.get("seed").map(pStr).getOrElse("htf")))
    case "boilerplate-remove" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.boilerplateRemove(df, pStr(m("id")), pStr(m("text")),
        m.get("line-tokens").map(pLong(_).toInt).getOrElse(7),
        m.get("min-docs").map(pLong(_).toInt).getOrElse(2))
    case "badwords-filter" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.badwordsFilter(df, pStr(m("text")),
        pStrs(m("patterns")),
        caseInsensitive = m.get("case-insensitive").forall(_ == true),
        maxHits = m.get("max-hits").map(pLong).getOrElse(0L))
    case "badwords-redact" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.badwordsRedact(df, pStr(m("text")),
        pStrs(m("patterns")),
        mask = m.get("mask").map(pStr).getOrElse("[REDACTED]"),
        caseInsensitive = m.get("case-insensitive").forall(_ == true),
        out = m.get("out").map(pStr).getOrElse("text_redacted"))
    case "badwords-signal" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.badwordsSignal(df, pStr(m("text")),
        pStrs(m("patterns")),
        caseInsensitive = m.get("case-insensitive").forall(_ == true),
        out = m.get("out").map(pStr).getOrElse("badword_hits"))
    case "domain-blocklist" =>
      val m = pMap(params.head)
      val domains = m("domains").asInstanceOf[Seq[Any]].map(pStr)
      df => {
        val spark = df.sparkSession
        import spark.implicits._
        graft.operators.Curation.domainBlocklistFilter(df, pStr(m("id")), pStr(m("text")),
          domains.toDF("domain"), "domain",
          levels = m.get("levels").map(pLong(_).toInt).getOrElse(3))
      }
    case "random-project" =>
      val m = pMap(params.head)
      df => graft.operators.Similarity.randomProject(df, pStr(m("vec")), pStr(m("out")),
        pLong(m("dim-in")).toInt, pLong(m("dim-out")).toInt,
        m.get("seed").map(pStr).getOrElse("rp"))
    case "l2-normalize" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.operators.Similarity.l2Normalize(col(pStr(m("vec")))))
    case "strip-html" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Text.stripHtml(col(pStr(m("field"))),
          lowercase = m.get("lowercase").exists(_ == true)))
    case "upsample" =>
      val m = pMap(params.head)
      val shares = pMap(m("weights")).map { case (k, v) => k -> pDouble(v) }
      df => graft.operators.Curation.upsampleByWeight(df, pStr(m("domain")), pStr(m("id")),
        shares, defaultWeight = m.get("default").map(pDouble).getOrElse(1.0),
        salt = m.get("salt").map(pStr).getOrElse("epochs"))
    case "decontam-overlap" =>
      val m = pMap(params.head)
      val (id, text, benchPath) = (pStr(m("id")), pStr(m("text")), pStr(m("bench-path")))
      Staged(
        reads(text)(df => withNulls(df.select(col(id)), graft.operators.Decontam.OverlapSchema)),
        df => graft.operators.Decontam.overlapFraction(df,
          df.sparkSession.read.parquet(benchPath), id, text))
    case "decontam-fuzzy" =>
      // drop train docs sharing any MinHash band with any bench doc
      val m = pMap(params.head)
      val (id, text, benchPath) = (pStr(m("id")), pStr(m("text")), pStr(m("bench-path")))
      val (k, rowsPerBand) = (m.get("k").map(pLong(_).toInt).getOrElse(8),
        m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2))
      Staged(reads(id, text)(identity),
        df => graft.operators.Decontam.decontaminateFuzzy(df,
          df.sparkSession.read.parquet(benchPath), id, text, k, rowsPerBand))
    case "decontam-exact" =>
      // drop train docs whose distinct-shingle overlap with the bench
      // corpus reaches min-hits (GPT-3 app. C's exact-n-gram rule)
      val m = pMap(params.head)
      val (id, text, benchPath) = (pStr(m("id")), pStr(m("text")), pStr(m("bench-path")))
      val minHits = m.get("min-hits").map(pLong).getOrElse(3L)
      require(minHits >= 1, "decontam-exact: min-hits must be >= 1")
      Staged(reads(id, text)(identity),
        df => graft.operators.Decontam.decontaminate(df,
          df.sparkSession.read.parquet(benchPath), id, text, minHits))
    case "gopher-filter" =>
      // keep only docs passing the Gopher quality thresholds — the
      // FILTER face of gopher-signals (which appends the struct)
      df => df.filter(
        graft.functions.Quality.gopherSignals(col(pStr(params.head)))
          .getField("keep") === 1L)
    case "near-dup-prune" =>
      // MinHash-LSH candidates -> star-contraction components -> keep
      // each cluster's canonical (min-id) member; schema-preserving
      val m = pMap(params.head)
      df => {
        val (pruned, audit) = graft.operators.Dedup.pruneNearDupsAudited(
          df, pStr(m("text")), pStr(m("id")),
          k = m.get("k").map(pLong(_).toInt).getOrElse(8),
          rowsPerBand = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit, connectivityExact = true)
        pruned
      }
    case "vocab-topk" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.vocabTopK(df, pStr(m("text")),
        pLong(m("k")).toInt, m.get("min-count").map(pLong).getOrElse(1L))
    case "frequent-ngrams" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.frequentNgrams(df, pStr(m("id")), pStr(m("text")),
        m.get("n").map(pLong(_).toInt).getOrElse(3),
        m.get("min-docs").map(pLong(_).toInt).getOrElse(2))
    case "train-logistic" =>
      // the shape keeps validation total over the empty frame: an empty
      // PRODUCTION training frame must stay a loud error in the trainer
      val m = pMap(params.head)
      val (id, vec, label, dim) =
        (pStr(m("id")), pStr(m("vec")), pStr(m("label")), pLong(m("dim")).toInt)
      val (epochs, lr) =
        (m.get("epochs").map(pLong(_).toInt).getOrElse(3), m.get("lr").map(pDouble).getOrElse(0.5))
      Staged(fixed(graft.operators.Training.ModelSchema, id, vec, label),
        df => graft.operators.Training.trainLogistic(df, id, vec, label, dim, epochs, lr))
    case "score-logistic" =>
      val m = pMap(params.head)
      val (vec, modelPath, out) = (pStr(m("vec")), pStr(m("model-path")), pStr(m("out")))
      Staged(reads(vec)(_.withColumn(out, lit(0.0))),
        df => graft.operators.Training.scoreWithWeights(df, vec,
          graft.operators.Training.loadWeightsCached(df.sparkSession, modelPath), out))
    case "dedup-delta" =>
      // incremental near-dup dedup against a persisted signature store
      val m = pMap(params.head)
      val (text, id, storePath) = (pStr(m("text")), pStr(m("id")), pStr(m("store-path")))
      val (update, cap) = (m.get("update").exists(_ == true), pBucketCap(m))
      Staged(
        reads(text)(df => withNulls(df.select(col(id)),
          nullCols(graft.operators.IncrementalDedup.deltaSchema(id)).filterNot(_._1 == id))),
        df => {
          // within-delta stage under the shared guard (connectivity face:
          // capped == unlimited verdicts; audit records the pair-join
          // exemptions the star edges stood in for)
          val (out, audit) = graft.operators.IncrementalDedup.dedupDeltaAudited(df,
            text, id, storePath, update = update, cap = cap)
          writeCapAudit(m, df.sparkSession, audit, connectivityExact = true)
          out
        })
    case "substring-probe" =>
      // incremental exact-substring cut spans against the persisted
      // window-hash store
      val m = pMap(params.head)
      val (text, id, storePath) = (pStr(m("text")), pStr(m("id")), pStr(m("store-path")))
      Staged(
        reads(text)(df => withNulls(df.select(col(id)),
          Seq("begin_tok", "end_tok", "n_tokens").map(_ -> LongType))),
        df => graft.operators.SubstringStore.probeDelta(df, text, id, storePath))
    case "cluster-cap-sample" =>
      // topic-balanced subsample: at most `cap` docs per k-means cell
      val m = pMap(params.head)
      df => graft.operators.Sampling.clusterBalancedSample(df,
        pStr(m("id")), pStr(m("vec")),
        pLong(m("cells")).toInt, pLong(m("cap")).toInt,
        m.get("iters").map(pLong(_).toInt).getOrElse(0),
        m.get("salt").map(pStr).getOrElse("cbal"))
    case "semantic-dedup" =>
      val m = pMap(params.head)
      df => {
        // mega-CELL guard (r15): cells past max-cell-factor × the
        // expected n/cells size take a linear cosine-verified
        // root-verify instead of the |cell|² self-join; audit-path
        // gets the account like the banded family
        val (out, audit) = graft.operators.Similarity.semanticDedupAudited(
          df, pStr(m("id")), pStr(m("vec")),
          nCells = m.get("cells").map(pLong(_).toInt).getOrElse(0), // 0 = derive ~sqrt(corpus)
          threshold = m.get("threshold").map(pDouble).getOrElse(0.35),
          maxCellFactor = m.get("max-cell-factor").map(pDouble).getOrElse(32.0))
        writeCapAudit(m, df.sparkSession, audit)
        out
      }

    // multimodal plumbing as declarable stages (media frame in, media/
    // feature frame out)
    case "media-decode" => df => graft.operators.Multimodal.decode(df)
    case "media-resize" =>
      val m = pMap(params.head)
      df => graft.operators.Multimodal.resize(df, pLong(m("width")).toInt, pLong(m("height")).toInt)
    case "media-features" =>
      df => graft.operators.Multimodal.featureExtract(df, pLong(pMap(params.head)("dim")).toInt)
    case "media-frame-sample" =>
      df => graft.operators.Multimodal.frameSample(df, pLong(pMap(params.head)("stride")).toInt)
    case "media-image-features" =>
      df => graft.operators.Multimodal.imageFeatureExtract(df, pLong(pMap(params.head)("grid")).toInt)
    case "media-dhash" =>
      df => graft.operators.Multimodal.imageDHash(df)
    case "media-near-dup" =>
      // same default guard as the text LSH family: the all-zero dHash
      // (black frames, decode failures) is the image-side mega-bucket
      val m0 = pMap(params.head)
      df => {
        val (pairs, audit) = graft.operators.Multimodal.imageNearDupAudited(df,
          pLong(m0("max-hamming")).toInt, cap = pBucketCap(m0))
        writeCapAudit(m0, df.sparkSession, audit)
        pairs
      }
    case "media-audio-decode" =>
      df => graft.operators.Multimodal.audioDecode(df)
    case "media-video-decode" =>
      df => graft.operators.Multimodal.videoDecode(df)
    case "media-frame-times" =>
      df => graft.operators.Multimodal.videoFrameTimes(df,
        pDouble(pMap(params.head)("fps")))

    case "hard-negatives" | "hard-negatives-bucketed" =>
      // anchors arrive as a persisted artifact (the usual mining setup:
      // the anchor batch is produced by an earlier sampling step); the
      // bucketed face is the web-scale composed miner, a sign-bucket
      // candidate set instead of the full corpus scan
      val m = pMap(params.head)
      val (id, vec, label, anchorsPath, k) = (pStr(m("id")), pStr(m("vec")), pStr(m("label")),
        pStr(m("anchors-path")), pLong(m("k")).toInt)
      val (bits, probes) = (m.get("bits").map(pLong(_).toInt).getOrElse(16),
        m.get("probes").map(pLong(_).toInt).getOrElse(0))
      Staged(fixed(graft.operators.Similarity.HardNegSchema, id, vec, label), df => {
        val anchors = df.sparkSession.read.parquet(anchorsPath)
        if (action == "hard-negatives")
          graft.operators.Similarity.hardNegatives(df, anchors, id, vec, label, k)
        else graft.operators.Similarity.hardNegativesBucketed(df, anchors, id, vec, label, k,
          bits = bits, extraProbes = probes)
      })

    // example-selection / data-pruning family (Pruning.scala)
    case "el2n-scores" =>
      // probe-model artifact (as score-logistic): adds el2n + grand
      // map-side under broadcast cached weights
      val m = pMap(params.head)
      val (vec, label, modelPath) = (pStr(m("vec")), pStr(m("label")), pStr(m("model-path")))
      Staged(reads(vec, label)(_.withColumn("el2n", lit(0.0)).withColumn("grand", lit(0.0))),
        df => graft.operators.Pruning.difficultyScoresWithWeights(df, vec, label,
          graft.operators.Training.loadWeightsCached(df.sparkSession, modelPath)))
    case "prototype-ranks" | "cluster-prune" =>
      // centroid artifact (the kmeans-assign discipline)
      val m = pMap(params.head)
      val (id, vec, centroidsPath) = (pStr(m("id")), pStr(m("vec")), pStr(m("centroids-path")))
      val ranks = action == "prototype-ranks"
      val perCluster = if (ranks) 0L else pLong(m("per-cluster"))
      require(ranks || perCluster >= 1, "cluster-prune: per-cluster must be >= 1")
      val keepHard = m.get("keep-hard").exists(_.asInstanceOf[Boolean])
      Staged(
        reads(vec) { df =>
          val out = df.select(col(id)).withColumn("cell", lit(0L)).withColumn("cosine", lit(0.0))
          if (ranks) out.withColumn("proto_rank", lit(0)) else out
        },
        df => {
          val centroids = graft.operators.Similarity.loadCentroids(df.sparkSession, centroidsPath)
          if (ranks) graft.operators.Pruning.prototypeRanks(df, id, vec, centroids)
          else graft.operators.Pruning.clusterPrune(df, id, vec, centroids, perCluster.toInt,
            keepHard = keepHard)
        })
    case "kcenter-coreset" =>
      val m = pMap(params.head)
      val (id, vec, k) = (pStr(m("id")), pStr(m("vec")), pLong(m("k")))
      require(k >= 1, "kcenter-coreset: k must be >= 1")
      Staged(fixed(graft.operators.Pruning.KcenterSchema, id, vec),
        df => graft.operators.Pruning.kcenterGreedy(df, id, vec, k.toInt))
    case "cartography" =>
      // the per-epoch weight snapshots come from a persisted
      // trainLogisticExactTrace frame
      val m = pMap(params.head)
      val (vec, label, tracePath) = (pStr(m("vec")), pStr(m("label")), pStr(m("trace-path")))
      Staged(
        reads(vec, label)(_.withColumn("confidence", lit(0.0)).withColumn("variability", lit(0.0))
          .withColumn("correct_frac", lit(0.0)).withColumn("region", lit("ambiguous"))),
        df => graft.operators.Pruning.cartography(df, vec, label,
          df.sparkSession.read.parquet(tracePath)))
    case "mmr-rerank" =>
      // diversity-aware final ranking over a candidate frame
      val m = pMap(params.head)
      val k = pLong(m("k"))
      require(k >= 1, "mmr-rerank: k must be >= 1")
      val lambda = m.get("lambda").map(pDouble).getOrElse(0.5)
      require(lambda >= 0.0 && lambda <= 1.0, "mmr-rerank: lambda must be in [0,1]")
      val (query, id, rel, vec) = (pStr(m("query")), pStr(m("id")), pStr(m("rel")), pStr(m("vec")))
      Staged(
        // fixed output types: the operator casts query/id to long
        reads(rel, vec)(_.select(col(query).cast("long")).withColumn("mmr_rank", lit(0))
          .withColumn(id, lit(0L)).withColumn("mmr_score", lit(0.0))),
        df => graft.operators.Retrieval.mmrRerank(df, query, id, rel, vec, k.toInt, lambda))
    case "jaccard-join" =>
      // exact prefix-filtered similarity join (recall 1.0)
      val m = pMap(params.head)
      val (id, text, threshold) = (pStr(m("id")), pStr(m("text")), pDouble(m("threshold")))
      require(threshold > 0.0 && threshold < 1.0, "jaccard-join: threshold must be in (0,1)")
      Staged(reads(text)(pairShape(id, "jaccard DOUBLE")),
        df => graft.operators.Dedup.jaccardPrefixJoin(df, id, text, threshold))
    case "bootstrap-ci" =>
      // percentile-bootstrap CI of a metric mean per group (Poisson
      // weights — one corpus pass, groups x r exchange)
      val m = pMap(params.head)
      val groups = pStrs(m("group"))
      require(groups.nonEmpty, "bootstrap-ci: group must be non-empty")
      val alpha = m.get("alpha").map(pDouble).getOrElse(0.05)
      require(alpha > 0.0 && alpha < 1.0, "bootstrap-ci: alpha must be in (0,1)")
      val r = m.get("r").map(pLong).getOrElse(100L)
      require(r >= 1, "bootstrap-ci: r must be >= 1")
      val (value, id) = (pStr(m("val")), pStr(m("id")))
      val salt = m.get("salt").map(pStr).getOrElse("bs")
      Staged(
        reads(value, id)(_.select(groups.map(col): _*).withColumn("n", lit(0L))
          .withColumn("point", lit(0.0)).withColumn("ci_lo", lit(0.0))
          .withColumn("ci_hi", lit(0.0))),
        df => graft.operators.Bootstrap.confidenceInterval(df, value, id, groups,
          r = r.toInt, alpha = alpha, salt = salt))
    case "winnow-fingerprints" =>
      // MOSS winnowing: per-doc local fingerprints (map-side fold)
      val m = pMap(params.head)
      val (k, w) = (m.get("k").map(pLong).getOrElse(5L), m.get("w").map(pLong).getOrElse(4L))
      require(k >= 1, "winnow-fingerprints: k must be >= 1")
      require(w >= 1, "winnow-fingerprints: w must be >= 1")
      val (id, text) = (pStr(m("id")), pStr(m("text")))
      Staged(
        reads(text)(df => emptyFrame(df.sparkSession,
          StructType(df.schema(id) +: StructType.fromDDL("pos BIGINT, fp BIGINT").fields))),
        df => graft.operators.Dedup.winnowFingerprints(df, text, id, k = k.toInt, w = w.toInt))
    case "winnow-candidates" =>
      // shared-fingerprint near-dup pairs (local-overlap complement of LSH)
      val m = pMap(params.head)
      val minShared = m.get("min-shared").map(pLong).getOrElse(2L)
      require(minShared >= 1, "winnow-candidates: min-shared must be >= 1")
      val maxDf = m.get("max-df").map(pLong).getOrElse(50L)
      require(maxDf >= 2, "winnow-candidates: max-df must be >= 2")
      val (id, text) = (pStr(m("id")), pStr(m("text")))
      val (k, w) =
        (m.get("k").map(pLong(_).toInt).getOrElse(5), m.get("w").map(pLong(_).toInt).getOrElse(4))
      Staged(reads(text)(pairShape(id, "shared BIGINT")),
        df => graft.operators.Dedup.winnowCandidates(df, text, id, k = k, w = w,
          minShared = minShared.toInt, maxDf = maxDf.toInt))
    case "edit-confirm" =>
      // composed near-dup funnel: LSH candidates -> optional n-gram
      // Jaccard cut (min-jaccard; keeps the quadratic DP off raw LSH
      // bucket collisions) -> bounded Levenshtein alignment confirm.
      // Declares its shape: over an empty frame the builder would still
      // resolve the bucket cap and write its audit-path parquet
      val m = pMap(params.head)
      val (id, text, minSim) = (pStr(m("id")), pStr(m("text")), pDouble(m("min-sim")))
      require(minSim >= 0.0 && minSim <= 1.0, "edit-confirm: min-sim must be in [0,1]")
      val maxLen = m.get("max-len").map(pLong).getOrElse(512L)
      require(maxLen >= 1, "edit-confirm: max-len must be >= 1")
      val (k, rowsPerBand) = (m.get("k").map(pLong(_).toInt).getOrElse(8),
        m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2))
      val (minJaccard, cap) = (m.get("min-jaccard").map(pDouble).getOrElse(0.0), pBucketCap(m))
      Staged(reads(text)(pairShape(id, "edit_dist BIGINT, edit_sim DOUBLE")), df =>
        if (minJaccard > 0.0) {
          // fused single-pass funnel: one payload table, two id-joins
          val (out, audit) = graft.operators.Dedup.editConfirmFunnelAudited(df, text, id,
            minJaccard = minJaccard, minSim = minSim, maxLen = maxLen.toInt,
            k = k, rowsPerBand = rowsPerBand, cap = cap)
          writeCapAudit(m, df.sparkSession, audit)
          out
        } else {
          val (cands, audit) = graft.operators.Dedup.lshCandidatesAudited(df, text, id,
            k = k, rowsPerBand = rowsPerBand, cap = cap)
          writeCapAudit(m, df.sparkSession, audit)
          graft.operators.Dedup.editConfirm(df, cands, text, id, minSim, maxLen.toInt)
        })
    case "cluster-split" =>
      // leakage-free train/val/test: LSH pairs -> star-contraction
      // roots -> hash split of the ROOT (near-dup clusters atomic)
      val m = pMap(params.head)
      df => {
        // the guard's CONNECTIVITY face: over-cap buckets are exempted
        // from the quadratic pair join but contribute linear
        // member→bucket-min star edges with identical connected
        // components — so the split under any cap (auto included)
        // equals the unlimited split exactly; the leakage-free contract
        // survives capping even on organically duplicate-heavy corpora
        val (pairs, audit) = graft.operators.Dedup.lshCandidatesConnectivity(
          df, pStr(m("text")), pStr(m("id")),
          k = m.get("k").map(pLong(_).toInt).getOrElse(8),
          rowsPerBand = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit, connectivityExact = true)
        val weights = m("weights").asInstanceOf[Seq[Any]].map { w =>
          val wm = pMap(w)
          (pStr(wm("name")), pDouble(wm("weight")))
        }
        graft.operators.Dedup.clusterAwareSplit(df, pairs, pStr(m("id")), weights,
          salt = m.get("salt").map(pStr).getOrElse("split"))
      }
    case "shrunk-group-means" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.shrunkGroupMeans(df, pStr(m("group")),
        pStr(m("value")), pDouble(m("pseudo-count")))
    case "ivfpq-build" | "ivfpq-append" | "opq-build" =>
      // sink-like: persist the index and pass the corpus through
      // unchanged. ivfpq-build trains + encodes cell-partitioned codes,
      // ivfpq-append encodes the delta against the FROZEN stored model,
      // opq-build trains the OPQ rotation + codebooks over flat codes
      val m = pMap(params.head)
      val (id, vec, path) = (pStr(m("id")), pStr(m("vec")), pStr(m("path")))
      def opt(key: String, default: Int) = m.get(key).map(pLong(_).toInt).getOrElse(default)
      val write: DataFrame => Unit = action match {
        case "ivfpq-build" =>
          val (cells, sub, codes) = (opt("cells", 16), opt("m", 4), opt("codes", 16))
          graft.operators.Similarity.buildIvfPqIndex(_, id, vec, path, cells, sub, codes)
        case "ivfpq-append" =>
          graft.operators.Similarity.appendIvfPqIndex(_, id, vec, path)
        case _ =>
          val (sub, codes, iters) = (opt("m", 4), opt("codes", 16), opt("iters", 3))
          graft.operators.Similarity.buildOpqIndex(_, id, vec, path, sub, codes, iters)
      }
      Staged(reads(id, vec)(identity), df => { write(df); df })
    case "ivfpq-query" | "opq-query" =>
      // the input frame is the query batch; the corpus is the stored
      // index (IVF-PQ cells, or OPQ flat codes)
      val m = pMap(params.head)
      val (id, vec, indexPath, k) =
        (pStr(m("id")), pStr(m("vec")), pStr(m("index-path")), pLong(m("k")))
      require(k >= 1, s"$action: k must be >= 1")
      val probes = m.get("probes").map(pLong(_).toInt).getOrElse(4)
      Staged(
        reads(id, vec)(_.select(col(id).cast("long").as("query_id")).withColumn("rank", lit(0L))
          .withColumn("nn_id", lit(0L)).withColumn("score", lit(0.0))),
        df =>
          if (action == "ivfpq-query")
            graft.operators.Similarity.queryIvfPqIndex(df.sparkSession, indexPath, df, id, vec,
              k.toInt, probes)
          else graft.operators.Similarity.queryOpqIndex(df.sparkSession, indexPath, df, id, vec,
            k.toInt))

    case "url-canonicalize" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Pii.canonicalizeUrl(col(pStr(m("field")))))

    // distributed BPE tokenizer induction
    case "bpe-pair-counts" =>
      val m = pMap(params.head)
      df => graft.operators.Tokenizer.pairCounts(
        graft.operators.Tokenizer.symbolize(
          graft.operators.Tokenizer.wordCounts(df, pStr(m("text")))))
    case "pca-train" =>
      val m = pMap(params.head)
      val (vec, dim, k, path) =
        (pStr(m("vec")), pLong(m("dim")).toInt, pLong(m("k")).toInt, pStr(m("path")))
      Staged(
        fixed(StructType.fromDDL(
          "component INT NOT NULL, eig_val DOUBLE NOT NULL, `row` ARRAY<DOUBLE>"), vec),
        df => {
          val spark = df.sparkSession
          import spark.implicits._
          val model = graft.operators.Pca.fit(df, vec, dim, k)
          graft.operators.Pca.saveModel(spark, model, path)
          model.components.zipWithIndex.map { case (row, r) =>
            (r, model.eigVals(r), row.toSeq)
          }.toSeq.toDF("component", "eig_val", "row")
        })
    case "pca-whiten" | "pca-project" =>
      val m = pMap(params.head)
      val (vec, modelPath, out) = (pStr(m("vec")), pStr(m("model-path")), pStr(m("out")))
      val eps = m.get("eps").map(pDouble).getOrElse(1e-9)
      Staged(reads(vec)(_.withColumn(out, array().cast("array<double>"))), df => {
        val model = graft.operators.Pca.loadModel(df.sparkSession, modelPath)
        if (action == "pca-whiten") graft.operators.Pca.whiten(df, vec, out, model, eps)
        else graft.operators.Pca.project(df, vec, out, model)
      })
    case "ngram-train" =>
      val m = pMap(params.head)
      val (text, n, alpha, path) =
        (pStr(m("text")), pLong(m("n")).toInt, pDouble(m("alpha")), pStr(m("path")))
      Staged(fixed(graft.operators.NgramLm.CountsSchema, text), df => {
        graft.operators.NgramLm.train(df, text, n, alpha, path)
        graft.operators.NgramLm.loadModel(df.sparkSession, path).counts
      })
    case "ngram-score" | "kn-score" | "sb-score" =>
      val m = pMap(params.head)
      val (text, id, modelPath) = (pStr(m("text")), pStr(m("id")), pStr(m("model-path")))
      val beta = m.get("beta").map(pDouble).getOrElse(0.4)
      Staged(
        reads(text, id)(_.withColumn("n_scored", lit(0L)).withColumn("logprob", lit(0.0))
          .withColumn("cross_entropy", lit(0.0)).withColumn("ppl", lit(0.0))),
        action match {
          case "ngram-score" => df => graft.operators.NgramLm.score(df, text, id,
            graft.operators.NgramLm.loadModel(df.sparkSession, modelPath))
          case "kn-score" => df => graft.operators.NgramLm.scoreKneserNey(df, text, id,
            graft.operators.NgramLm.loadKneserNey(df.sparkSession, modelPath))
          case _ => df => {
            // reuses the ngram-train artifact (counts + vocab_size; order 2)
            val lm = graft.operators.NgramLm.loadModel(df.sparkSession, modelPath)
            require(lm.n == 2, s"sb-score: needs an order-2 model, got n=${lm.n}")
            graft.operators.NgramLm.scoreStupidBackoff(df, text, id, lm.counts, lm.vocabSize, beta)
          }
        })
    case "kn-train" =>
      val m = pMap(params.head)
      val (text, path) = (pStr(m("text")), pStr(m("path")))
      val discount = m.get("discount").map(pDouble).getOrElse(0.75)
      Staged(fixed(graft.operators.NgramLm.CountsSchema, text), df => {
        val model = graft.operators.NgramLm.trainKneserNey(df, text, discount)
        graft.operators.NgramLm.saveKneserNey(model, path)
        model.counts
      })
    case "ppl-bucket" =>
      val m = pMap(params.head)
      df => graft.operators.NgramLm.pplBucket(df, pStr(m("id")), pStr(m("ppl")),
        m.get("buckets").map(pStrs).getOrElse(Seq("head", "middle", "tail")))
    case "length-batches" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.lengthBucketBatches(df, pStr(m("id")),
        pStr(m("tokens")), pDoubles(m("edges")).map(_.toLong), pLong(m("max-tokens")))
    case "temperature-mix" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.temperatureMix(df, pStr(m("source")),
        pStr(m("id")), m.get("temperature").map(pDouble).getOrElse(2.0),
        m.get("salt").map(pStr).getOrElse("tmix"))
    case "unimax-mix" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.unimaxMix(df, pStr(m("source")),
        pStr(m("id")), pLong(m("budget")),
        m.get("max-epochs").map(pDouble).getOrElse(4.0),
        m.get("salt").map(pStr).getOrElse("unimax"))
    case "cms-topk" =>
      val m = pMap(params.head)
      val (text, depth, width, k) =
        (pStr(m("text")), pLong(m("depth")).toInt, pLong(m("width")).toInt, pLong(m("k")).toInt)
      val seed = m.get("seed").map(pStr).getOrElse("cms")
      Staged(fixed(StructType.fromDDL("token STRING, est BIGINT NOT NULL"), text),
        df => graft.operators.Sketches.cmsTokenCounts(df, text, depth, width, seed, k))
    case "heavy-hitters" =>
      val m = pMap(params.head)
      val (text, k) = (pStr(m("text")), pLong(m("k")).toInt)
      Staged(fixed(StructType.fromDDL("token STRING, cnt BIGINT NOT NULL"), text),
        df => graft.operators.Sketches.heavyHitters(df, text, k))
    case "kmv-sample" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.kmvRowSample(df, pStr(m("id")),
        pStr(m("value")), pLong(m("k")).toInt,
        m.get("seed").map(pStr).getOrElse("kmv"))
    case "kmv-quantiles" =>
      val m = pMap(params.head)
      val (id, value, k, qs) =
        (pStr(m("id")), pStr(m("value")), pLong(m("k")).toInt, pDoubles(m("qs")))
      val seed = m.get("seed").map(pStr).getOrElse("kmv")
      Staged(fixed(StructType.fromDDL("q DOUBLE NOT NULL, value DOUBLE NOT NULL"), id, value),
        df => graft.operators.Sketches.kmvQuantiles(df, id, value, k, seed, qs))
    case "kmv-distinct" =>
      val m = pMap(params.head)
      val (text, k) = (pStr(m("text")), pLong(m("k")).toInt)
      val seed = m.get("seed").map(pStr).getOrElse("kmv")
      Staged(
        fixed(StructType.fromDDL("k_kept BIGINT NOT NULL, h_k BIGINT NOT NULL, est DOUBLE NOT NULL"),
          text),
        df => graft.operators.Sketches.kmvDistinct(df, text, k, seed))
    case "pagerank" =>
      val m = pMap(params.head)
      val (src, dst) = (pStr(m("src")), pStr(m("dst")))
      val (iters, damping) = (m.get("iters").map(pLong(_).toInt).getOrElse(10),
        m.get("damping").map(pDouble).getOrElse(0.85))
      Staged(fixed(StructType.fromDDL("node STRING, rank DOUBLE NOT NULL"), src, dst),
        df => graft.operators.LinkGraph.pageRank(df, src, dst, iters, damping))
    case "hits" =>
      // hubs & authorities over an edge frame (eager power iteration)
      val m = pMap(params.head)
      val (src, dst) = (pStr(m("src")), pStr(m("dst")))
      val iters = m.get("iters").map(pLong).getOrElse(5L)
      require(iters >= 1, "hits: iters must be >= 1")
      Staged(
        fixed(StructType.fromDDL("node STRING, auth DOUBLE NOT NULL, hub DOUBLE NOT NULL"), src, dst),
        df => graft.operators.LinkGraph.hits(df, src, dst, iters.toInt))
    case "doremi-weights" | "doremi-reweight" =>
      val m = pMap(params.head)
      val (domain, loss, ref) = (pStr(m("domain")), pStr(m("loss")), pDouble(m("ref")))
      val (eta, rounds, smoothing) = (m.get("eta").map(pDouble).getOrElse(1.0),
        m.get("rounds").map(pLong(_).toInt).getOrElse(1),
        m.get("smoothing").map(pDouble).getOrElse(0.0))
      if (action == "doremi-weights")
        Staged(
          fixed(StructType.fromDDL(
            "domain STRING, n BIGINT NOT NULL, excess DOUBLE NOT NULL, weight DOUBLE"),
            domain, loss),
          df => graft.operators.Doremi.weights(df, domain, col(loss).cast("double"), lit(ref),
            eta, rounds, smoothing))
      else {
        val (id, salt) = (pStr(m("id")), m.get("salt").map(pStr).getOrElse("doremi"))
        Staged(reads(domain, loss, id)(_.withColumn("copy", lit(0L))),
          df => graft.operators.Doremi.reweight(df, domain, id, col(loss).cast("double"), lit(ref),
            eta, rounds, smoothing, salt))
      }
    case "hll-registers" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.hllRegisters(df, pStr(m("text")),
        pLong(m("b")).toInt, m.get("seed").map(pStr).getOrElse("hll"))
    case "hll-distinct" =>
      val m = pMap(params.head)
      val (text, b) = (pStr(m("text")), pLong(m("b")).toInt)
      val seed = m.get("seed").map(pStr).getOrElse("hll")
      Staged(
        fixed(StructType.fromDDL("m BIGINT NOT NULL, n_zero BIGINT NOT NULL, est DOUBLE NOT NULL"),
          text),
        df => graft.operators.Sketches.hllDistinct(df, text, b, seed))
    case "bpe-train" =>
      val m = pMap(params.head)
      // batched driver loop by default (exactly equal to sequential;
      // `batch 1` recovers the one-merge-per-job reference path)
      val (text, merges) = (pStr(m("text")), pLong(m("merges")).toInt)
      val (minPair, batch) = (m.get("min-pair").map(pLong).getOrElse(2L),
        m.get("batch").map(pLong(_).toInt).getOrElse(16))
      Staged(fixed(graft.operators.Tokenizer.MergesSchema, text),
        df => graft.operators.Tokenizer.trainBpeBatched(df, text, merges, minPair, batch))
    case "bpe-encode" | "unigram-encode" | "wordpiece-encode" =>
      // the model table is a runtime artifact (a *-train step earlier in
      // the job may produce it)
      val m = pMap(params.head)
      val (text, modelPath, out) = (pStr(m("text")), pStr(m("model-path")), pStr(m("out")))
      Staged(reads(text)(_.withColumn(out, array().cast("array<string>"))), action match {
        case "bpe-encode" => df => graft.operators.Tokenizer.encode(df, text,
          graft.operators.Tokenizer.loadMerges(df.sparkSession, modelPath), out)
        case "unigram-encode" =>
          val maxPiece = m.get("max-piece").map(pLong(_).toInt).getOrElse(8)
          df => graft.operators.UnigramTokenizer.encode(df, text,
            graft.operators.UnigramTokenizer.loadModel(df.sparkSession, modelPath), out, maxPiece)
        case _ =>
          val unk = m.get("unk").map(pStr).getOrElse("[UNK]")
          df => graft.operators.WordPiece.encode(df, text,
            graft.operators.WordPiece.loadVocab(df.sparkSession, modelPath), out, unk)
      })
    case "unigram-train" =>
      val m = pMap(params.head)
      val mode = m.get("mode").map(pStr).getOrElse("hard")
      require(mode == "hard" || mode == "soft",
        s"unigram-train: mode must be 'hard' or 'soft', got '$mode'")
      val (text, vocab) = (pStr(m("text")), pLong(m("vocab")).toInt)
      val maxPiece = m.get("max-piece").map(pLong(_).toInt).getOrElse(8)
      val iters = m.get("iters").map(pLong(_).toInt).getOrElse(if (mode == "hard") 3 else 2)
      Staged(fixed(StructType.fromDDL("piece STRING, logp DOUBLE NOT NULL"), text),
        if (mode == "hard")
          df => graft.operators.UnigramTokenizer.trainDistributed(df, text, vocab, maxPiece, iters)
        else
          df => graft.operators.UnigramTokenizer.trainSoftDistributed(df, text, vocab, maxPiece,
            iters))
    case "wordpiece-train" =>
      val m = pMap(params.head)
      // batched driver loop by default (exactly equal to sequential;
      // `batch 1` recovers the one-merge-per-job reference path)
      val (text, merges) = (pStr(m("text")), pLong(m("merges")).toInt)
      val (minPair, batch) = (m.get("min-pair").map(pLong).getOrElse(2L),
        m.get("batch").map(pLong(_).toInt).getOrElse(16))
      Staged(fixed(graft.operators.WordPiece.VocabSchema, text),
        df => graft.operators.WordPiece.vocabFrame(df, text,
          graft.operators.WordPiece.trainWordPieceBatched(df, text, merges, minPair, batch)))
    case "media-audio-features" =>
      df => graft.operators.Multimodal.audioFeatureExtract(df, pLong(pMap(params.head)("dim")).toInt)
    case "warc-records" =>
      val m = pMap(params.head)
      df => graft.sources.Warc.records(df, pStr(m("bin")))
    case "tfrecord-records" =>
      // framed-shard blobs -> payload rows (CRC-verified, total)
      val m = pMap(params.head)
      df => graft.sources.TfRecord.records(df, pStr(m("bin")))
    case "robots-filter" =>
      val m = pMap(params.head)
      val robots = pMap(m("robots")).map { case (h, v) => h -> pStr(v) }
      df => graft.sources.Robots.filterAllowed(df, pStr(m("uri")), robots,
        m.get("agent").map(pStr).getOrElse("*"))
    case "warc-responses" =>
      val m = params.headOption.map(pMap).getOrElse(Map.empty)
      if (m.get("charset-aware").exists(_.asInstanceOf[Boolean]))
        df => graft.sources.Warc.responsesCharsetAware(df,
          m.get("sniff").map(pLong(_).toInt).getOrElse(2048))
      else
        df => graft.sources.Warc.responses(df)
    case "surt-key" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("urlkey"),
        graft.sources.Cdx.surtKey(col(pStr(m("url")))))
    // Morton z-curve key over integer grid columns (Layout.zValue)
    case "zorder-key" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("z"),
        graft.sources.Layout.zValue(pStrs(m("cols")).map(col),
          m.get("bits").map(pLong(_).toInt).getOrElse(16)))
    // Hilbert curve key over a 2-D integer grid (Layout.hilbertValue)
    case "hilbert-key" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("h"),
        graft.sources.Layout.hilbertValue(col(pStr(m("x"))), col(pStr(m("y"))),
          m.get("bits").map(pLong(_).toInt).getOrElse(16)))
    case "cdx-index" =>
      val m = params.headOption.map(pMap).getOrElse(Map.empty)
      df => graft.sources.Cdx.index(df,
        m.get("uri").map(pStr).getOrElse("target_uri"),
        m.get("date").map(pStr).getOrElse("warc_date"),
        m.get("payload").map(pStr).getOrElse("payload"))
    case "cdx-parse" =>
      val m = params.headOption.map(pMap).getOrElse(Map.empty)
      df => graft.sources.Cdx.parseCdxj(df,
        m.get("line").map(pStr).getOrElse("line"))
    case "feed-urls" =>
      val m = pMap(params.head)
      df => {
        val parsed = graft.sources.Feed.parseFeeds(df, pStr(m("xml")))
        // {"parse-times": true} appends the ns event-time column parsed
        // from the published string (total; null on garbage)
        if (m.get("parse-times").contains(true))
          graft.sources.Feed.withEventTime(parsed)
        else parsed
      }
    case "feed-discovery" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("feed_urls"),
        graft.sources.Feed.discoveryLinks(col(pStr(m("html")))))
    case "sitemap-urls" =>
      val m = pMap(params.head)
      df => graft.sources.Sitemap.parseUrlset(df, pStr(m("xml")))
    case "sitemap-index" =>
      val m = pMap(params.head)
      df => graft.sources.Sitemap.parseIndex(df, pStr(m("xml")))
    case "robots-harvest" =>
      df => graft.sources.Robots.hostBodies(df)
    case "noindex-filter" =>
      val m = pMap(params.head)
      df => graft.sources.Robots.noindexFilter(df, pStr(m("html")),
        m.get("agent").map(pStr).getOrElse("robots"))
    case "meta-robots" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("robots_directives"),
        graft.sources.Robots.metaRobotsDirectives(col(pStr(m("html"))),
          m.get("agent").map(pStr).getOrElse("robots")))
    case "fetch-schedule" =>
      val m = pMap(params.head)
      val robots = pMap(m("robots")).map { case (h, v) => h -> pStr(v) }
      df => graft.sources.Robots.fetchSchedule(df, pStr(m("uri")), robots,
        m.get("agent").map(pStr).getOrElse("*"),
        m.get("default-delay").map(pDouble).getOrElse(1.0))
    case "snapshot-latest" =>
      val m = pMap(params.head)
      df => graft.operators.Snapshots.latest(df, pStr(m("key")), pStr(m("ts")),
        m.get("digest").map(pStr).getOrElse("digest"))
    case "snapshot-diff" =>
      val m = pMap(params.head)
      val (key, digest, oldPath) = (pStr(m("key")), pStr(m("digest")), pStr(m("old-path")))
      Staged(
        reads(digest)(df => withNulls(df.select(col(key)), graft.operators.Snapshots.DiffSchema)),
        df => graft.operators.Snapshots.diff(df.sparkSession.read.parquet(oldPath), df,
          key, digest))
    case "compression-ratio" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("compression_ratio"),
        graft.functions.Compress.compressionRatio(col(pStr(m("text"))),
          m.get("level").map(pLong(_).toInt).getOrElse(6)))
    case "byte-level" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("byte_level"),
        graft.functions.ByteLevel.toByteLevel(col(pStr(m("field")))))
    case "byte-level-decode" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("text"),
        graft.functions.ByteLevel.fromByteLevel(col(pStr(m("field")))))
    case "byte-level-pretokens" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("pretokens"),
        graft.functions.ByteLevel.pretokens(col(pStr(m("text")))))
    case "mirror-pairs" =>
      val m = pMap(params.head)
      df => graft.operators.Snapshots.mirrorPairs(df, pStr(m("host")),
        pStr(m("digest")),
        m.get("min-shared").map(pLong).getOrElse(2L),
        m.get("max-hosts").map(pLong(_).toInt).getOrElse(16))
    case "refetch-candidates" =>
      val m = pMap(params.head)
      val (loc, lastmod, capturesPath) =
        (pStr(m("loc")), pStr(m("lastmod")), pStr(m("captures-path")))
      val (key, ts) =
        (m.get("key").map(pStr).getOrElse("urlkey"), m.get("ts").map(pStr).getOrElse("ts"))
      Staged(
        reads(loc, lastmod)(
          withNulls(_, Seq("urlkey", "last_capture_ts", "reason").map(_ -> StringType))),
        df => graft.operators.Snapshots.refetchCandidates(df, loc, lastmod,
          df.sparkSession.read.parquet(capturesPath), key, ts))

    case other => throw new IllegalArgumentException(s"unknown action '$other'")
  }

  /** The builder of an action that reads a runtime artifact or launches
    * Spark jobs. `run` is the transform; `shape` builds the same output
    * schema over an empty frame, resolving the columns `run` reads but
    * touching no artifact and starting no job — [[validate]] applies it in
    * place of `run`. The params are decoded and bound-checked once, before
    * either is built, so both share every check.
    */
  private final case class Staged(shape: DataFrame => DataFrame, run: DataFrame => DataFrame)
      extends (DataFrame => DataFrame) {
    def apply(df: DataFrame): DataFrame = run(df)
  }

  // ---------------- output shapes ----------------

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** `df` plus one typed null column per (name, type). */
  private def withNulls(df: DataFrame, cols: Seq[(String, DataType)]): DataFrame =
    cols.foldLeft(df) { case (acc, (name, dt)) => acc.withColumn(name, lit(null).cast(dt)) }

  private def nullCols(schema: StructType): Seq[(String, DataType)] =
    schema.fields.toSeq.map(f => f.name -> f.dataType)

  /** A shape that resolves the input columns `cols`, then builds `out`. */
  private def reads(cols: String*)(out: DataFrame => DataFrame): DataFrame => DataFrame =
    df => { cols.foreach(df(_)); out(df) }

  /** The shape of a pair list: `id1`, `id2` typed as the input's `id`,
    * then the `measures` DDL columns. */
  private def pairShape(id: String, measures: String): DataFrame => DataFrame = df => {
    val idField = df.schema(id)
    emptyFrame(df.sparkSession, StructType(
      idField.copy(name = "id1") +: idField.copy(name = "id2") +: StructType.fromDDL(measures).fields))
  }

  /** A shape whose output schema does not depend on the input. */
  private def fixed(schema: => StructType, cols: String*): DataFrame => DataFrame =
    reads(cols: _*)(df => emptyFrame(df.sparkSession, schema))

  // ---------------- param coercion ----------------

  // NOTE: params reaching the coercers have already been deep-unmasked
  // by applyOp (the single #secret reveal funnel).
  private def pStr(p: Any): String = p.toString.stripPrefix(":")
  private def pDouble(p: Any): Double = p.asInstanceOf[Number].doubleValue()
  private def pLong(p: Any): Long = p.asInstanceOf[Number].longValue()
  private def pStrs(p: Any): Seq[String] = p match {
    case s: Seq[_] => s.map(x => pStr(x))
    case single    => Seq(pStr(single))
  }
  private def pDoubles(p: Any): Seq[Double] =
    p.asInstanceOf[Seq[Any]].map(pDouble)
  private def pMap(p: Any): Map[String, Any] =
    p.asInstanceOf[Map[String, Any]].map { case (k, v) => k.stripPrefix(":") -> v }
  /** Shared mega-bucket guard spec for the LSH-composing actions
    * (`dedup-minhash-lsh`, `near-dup-prune`, `cluster-split`,
    * `edit-confirm`). `max-bucket` accepts an int (fixed cap),
    * `"unlimited"` (the pre-r14 opt-out), or `"auto"` — and DEFAULTS to
    * auto: resolve the cap from the corpus's exact bucket-size
    * histogram under a `pairs-per-doc` emission budget (default 32,
    * `cap-floor` 16; [[graft.operators.Dedup.solveBucketCap]]). Clean
    * corpora resolve to unlimited (bit-identical to the old default);
    * adversarial mega-bucket corpora get a bounded run instead of a
    * quadratic blow-up — the naive 100 TB user now gets the path that
    * SURVIVES, and can still opt out explicitly.
    */
  private def pBucketCap(m: Map[String, Any]): graft.operators.Dedup.BucketCap = {
    import graft.operators.Dedup.BucketCap
    def auto = BucketCap.Auto(
      pairsPerDoc = m.get("pairs-per-doc").map(pDouble).getOrElse(32.0),
      floor = m.get("cap-floor").map(pLong(_).toInt).getOrElse(16))
    m.get("max-bucket") match {
      case None => auto
      case Some(s: String) if pStr(s) == "auto" => auto
      case Some(s: String) if pStr(s) == "unlimited" => BucketCap.Unlimited
      case Some(v) => BucketCap.fromInt(pLong(v).toInt)
    }
  }

  /** Optional `audit-path` side output for the guard's [[graft.operators
    * .Dedup.LshAudit]] row — one tiny parquet a production run can join
    * into its run report, so "no near-dups" and "near-dups exempted by
    * cap" are distinguishable without scraping driver logs.
    *
    * `on-excluded: "fail"` upgrades the exclusion WARN to a hard error:
    * a run whose default-auto guard actually dropped buckets aborts
    * instead of producing a silently-approximate pair list — the
    * reproducibility stance for pipelines whose downstream cannot
    * tolerate the cap (default stays `"warn"`). Connectivity-face
    * actions (`cluster-split`, `near-dup-prune`) are exempt even under
    * `"fail"`: their star edges make the capped result EXACT, so an
    * exclusion there is a cost win, not an approximation.
    */
  private def writeCapAudit(m: Map[String, Any],
                            spark: org.apache.spark.sql.SparkSession,
                            audit: Option[graft.operators.Dedup.LshAudit],
                            connectivityExact: Boolean = false): Unit = {
    for (p <- m.get("audit-path").map(pStr); a <- audit)
      a.toDF(spark).coalesce(1).write.mode("overwrite").parquet(p)
    if (!connectivityExact &&
        m.get("on-excluded").map(pStr).contains("fail"))
      for (a <- audit; if a.excludedBuckets > 0)
        throw new IllegalStateException(
          s"mega-bucket guard excluded ${a.excludedBuckets} band buckets / " +
            s"${a.excludedMembers} member rows (resolved cap ${a.resolvedMaxBucket}, " +
            s"largest bucket ${a.largestBucket}) and on-excluded=fail — " +
            "raise pairs-per-doc, set max-bucket explicitly, or drop on-excluded")
  }

  private def durOf(params: Seq[Any]): Long = pLong(pMap(params.head)("duration"))
  private def sizeOf(params: Seq[Any]): Int = pLong(pMap(params.head)("size")).toInt
  private def delayOf(params: Seq[Any]): Long =
    params.headOption.map(pMap).flatMap(_.get("delay")).map(pLong).getOrElse(0L)
}

/** Named-pipeline registry — the analog of the reference's stream registry
  * + `stream`/`streams` declarations (`action.clj:1829-1850`,
  * `stream.clj:129-143` reload, `stream.clj:276-296` dynamic add/remove).
  * Thread-safe; pipelines are plain [[Node]] data, so list/add/remove is a
  * control-plane operation, not a recompile of the engine.
  */
final class StreamRegistry(ctx: EngineCtx = EngineCtx()) {
  private val streams = new scala.collection.concurrent.TrieMap[String, Node]()
  private val defaultFlags = new scala.collection.concurrent.TrieMap[String, Boolean]()

  def add(name: String, pipeline: Node, default: Boolean = false): Unit = synchronized {
    // names arrive from JSON documents (the HTTP add-stream analog) and
    // become file names in saveTo — refuse anything that could escape the
    // persistence directory or fail to round-trip through loadFrom
    require(name.nonEmpty && !name.contains('/') && !name.contains('\\') &&
      !name.contains("..") && name != "." ,
      s"invalid stream name '$name': must be non-empty, no path separators or '..'")
    streams.put(name, pipeline)
    defaultFlags.put(name, default)
  }
  /** Unregister a stream. Also forgets any directory-load record for the
    * name, so a later [[reloadFrom]] treats a still-present file as a
    * fresh ADD (directory = source of truth, the reference's reload
    * contract) instead of inconsistently resurrecting the stream only
    * when the file's bytes happened to change.
    *
    * Mutations share [[reloadFrom]]'s monitor: a SIGHUP reload racing a
    * concurrent HTTP remove/add can no longer interleave between the
    * reload's dirDocs snapshot and its re-registration (which could
    * resurrect a just-removed stream or drop a just-added dir record).
    */
  def remove(name: String): Unit = synchronized {
    streams.remove(name); defaultFlags.remove(name)
    dirDocs.remove(name); dirOrigin.remove(name)
  }
  def get(name: String): Option[Node] = streams.get(name)

  /** Export a stream's full document as JSON (the HTTP API's
    * `get-stream`, which returns the stored config —
    * `handler.clj:64-72`); round-trips through [[addJson]].
    */
  def getJson(name: String): Option[String] = streams.get(name).map { node =>
    Node.toJson(Node("stream",
      Seq(Map("name" -> name, "default" -> defaultFlags.getOrElse(name, false))),
      Seq(node)))
  }

  def list: Seq[String] = streams.keySet.toSeq.sorted

  /** Streams flagged `default: true` — the ones that receive events not
    * addressed to a specific stream (reference `stream.clj:260-268`).
    */
  def defaults: Seq[String] = defaultFlags.collect { case (n, true) => n }.toSeq.sorted

  /** The reference's `push!` routing (`stream.clj:260-275`): input
    * addressed to `"default"` runs through every default-flagged stream;
    * a named stream runs alone, and an unknown name is an error
    * ("Stream %s not found").
    */
  def push(input: DataFrame, stream: String = "default"): Map[String, StreamResult] =
    if (stream == "default") defaults.map(n => n -> run(n, input)).toMap
    else if (streams.contains(stream)) Map(stream -> run(stream, input))
    else throw new IllegalArgumentException(s"Stream $stream not found")

  /** Load `{"streams": [{"action":"stream","params":[{"name":...}],
    * "children":[...]}]}` documents (one child pipeline per stream; several
    * children are teed via an implicit `sdo`).
    */
  def addJson(json: String): Seq[String] =
    Node.manyFromJson(json).map(addStreamNode)

  /** Load a reference-shaped EDN stream file (the format `read-edn-dirs`
    * consumes, `stream.clj:154-166`): a top-level map of
    * `{:name {:actions {...} :default bool}}` entries — the migration
    * path for existing reference stream configs. See [[Edn]].
    */
  def addEdn(text: String): Seq[String] =
    Edn.streamDocs(text).map(addStreamNode)

  /** (name, default-flag, pipeline) of a `stream` document node. */
  private def parseStreamNode(n: Node): (String, Boolean, Node) =
    StreamRegistry.streamMeta(n)

  def addStreamNode(n: Node): String = {
    val (name, default, pipeline) = parseStreamNode(n)
    add(name, pipeline, default)
    name
  }

  /** Run a registered pipeline over an input frame. */
  def run(name: String, input: DataFrame): StreamResult = {
    val node = get(name).getOrElse(
      throw new IllegalArgumentException(s"unknown stream '$name'"))
    Engine.run(node, input, ctx, this)
  }

  /** Persist every registered stream as `<dir>/<name>.json` — the analog
    * of the reference's `add-stream` `:persist` flag, which writes the
    * stream config into the streams directory so dynamically-added
    * streams survive a restart (`stream.clj:276-296`).
    *
    * Streams loaded from a DIFFERENT directory are skipped: with a
    * multi-directory config, persisting a tail-dir stream into the head
    * dir would make the next boot load the same name from two places,
    * and a later reload diff would attribute it to whichever parsed
    * last. Dir-loaded streams already have a file; only dynamic ones
    * (and this dir's own, possibly HTTP-updated, streams) are written.
    */
  def saveTo(dir: String): Unit = synchronized {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    streams.foreach { case (name, node) =>
      if (dirOrigin.get(name).exists(_ != normPath(dir))) {
        System.err.println(s"[registry] stream '$name' came from " +
          s"'${dirOrigin(name)}' — not persisted into '$dir' (its own file is the source of truth)")
      } else persistOne(d, name, node)
    }
  }

  private def persistOne(d: java.nio.file.Path, name: String, node: Node): Unit = {
    // a #secret value serializes as its MASK (Node.toJson) — the
    // persisted copy cannot round-trip the secret. Warn loudly so the
    // operator keeps the EDN source of truth instead of silently
    // rebooting the stream with the literal mask string as the value.
    if (hasSecret(node))
      System.err.println(s"[registry] stream '$name' contains #secret values: " +
        "persisted copy is REDACTED and will not run correctly if reloaded — " +
        "keep the original EDN file as the source of truth")
    val doc = Node("stream",
      Seq(Map("name" -> name, "default" -> defaultFlags.getOrElse(name, false))),
      Seq(node))
    java.nio.file.Files.writeString(d.resolve(s"$name.json"), Node.toJson(doc))
  }

  private def hasSecret(n: Node): Boolean = StreamRegistry.hasSecret(n)

  /** Load every `*.json` and `*.edn` stream document from a directory
    * (boot-time reload, `stream.clj:129-143`; the reference's directories
    * hold EDN — accepting both lets a migrating user point this at their
    * existing streams directory unchanged). Returns the loaded names.
    */
  def loadFrom(dir: String): Seq[String] = synchronized {
    parseDir(dir).map { n =>
      val name = addStreamNode(n)
      dirDocs.put(name, n)
      dirOrigin.put(name, normPath(dir))
      name
    }
  }

  /** The last directory-loaded stream documents, by name — the analog of
    * the reference's `streams-configurations`, which `reload` diffs the
    * re-read directory against. Streams added dynamically (addJson /
    * add-stream without persist) are absent here, so a reload never
    * touches them — exactly the reference's merge semantics
    * (`stream.clj:227-259`: to-remove is computed from the OLD directory
    * config, not from the compiled set).
    */
  private val dirDocs = new scala.collection.concurrent.TrieMap[String, Node]()

  /** Which directory (normalized absolute path) each dir-loaded stream
    * came from — lets [[saveTo]] refuse to clone a tail-dir stream into
    * another directory's persistence file.
    */
  private val dirOrigin = new scala.collection.concurrent.TrieMap[String, String]()

  private def normPath(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Parse every `*.json` / `*.edn` stream document in `dir` without
    * touching the registry.
    */
  private def parseDir(dir: String): Seq[Node] = StreamRegistry.parseDirDocs(dir)

  /** Outcome of a [[reloadFrom]] diff (reference `new-config`,
    * `stream.clj:129-143`: to-add / to-reload / to-remove, plus the
    * unchanged set this implementation leaves untouched).
    */
  final case class ReloadResult(added: Seq[String], reloaded: Seq[String],
                                removed: Seq[String], unchanged: Seq[String])

  /** Diff-based hot reload — the SIGHUP / API-triggered `reload`
    * (`stream.clj:227-259`, `core.clj:136-143`): re-read the streams
    * directory and apply only the delta. Streams whose document is
    * byte-identical (structural `Node` equality — documents are plain
    * data) are NOT re-registered, so their registered pipeline keeps its
    * node identity (and anything keyed off it — running queries, caches —
    * is undisturbed); removed files unregister their streams; new or
    * changed documents (re)register. Dynamically-added streams that never
    * came from the directory are never removed by a reload.
    */
  def reloadFrom(dir: String): ReloadResult = reloadFrom(Seq(dir))

  /** Multi-directory reload: the reference's `streams-directories` is a
    * LIST (`read-edn-dirs` merges them); diffing against the merged
    * listing means a reload never mistakes another directory's streams
    * for removed ones.
    */
  def reloadFrom(dirs: Seq[String]): ReloadResult = synchronized {
    val parsed = dirs.flatMap(d => parseDir(d).map(n => parseStreamNode(n)._1 -> (n, d)))
    val newDocs = scala.collection.immutable.ListMap(parsed: _*)
    val old = dirDocs.snapshot()
    val removed = (old.keySet -- newDocs.keySet).toSeq.sorted
    removed.foreach(remove) // remove() also forgets the dir record
    val added = scala.collection.mutable.ListBuffer[String]()
    val reloaded = scala.collection.mutable.ListBuffer[String]()
    val unchanged = scala.collection.mutable.ListBuffer[String]()
    newDocs.foreach { case (name, (doc, dir)) =>
      dirOrigin.put(name, normPath(dir)) // a file may have moved dirs
      old.get(name) match {
        case Some(prev) if prev == doc => unchanged += name
        case prev =>
          addStreamNode(doc)
          dirDocs.put(name, doc)
          if (prev.isEmpty) added += name else reloaded += name
      }
    }
    ReloadResult(added.toSeq, reloaded.toSeq, removed, unchanged.toSeq)
  }
}

object StreamRegistry {

  /** The `*.json` / `*.edn` document files in `dir`, sorted — the one
    * directory-listing rule every config reader shares (boot/reload
    * loading, the CLI `compile`/`test`/`graphviz` commands).
    */
  def listDocFiles(dir: String): Seq[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(d)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(d)
      try listing.iterator().asScala
        .filter(p => p.toString.endsWith(".json") || p.toString.endsWith(".edn"))
        .toSeq.sortBy(_.toString)
      finally listing.close()
    }
  }

  /** Parse every `*.json` / `*.edn` stream document in `dir` (the
    * reference's `read-edn-dirs` unit) without a registry — shared by
    * boot/reload loading and the CLI `compile`/`graphviz` commands.
    */
  def parseDirDocs(dir: String): Seq[Node] =
    listDocFiles(dir).flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      if (p.toString.endsWith(".edn")) Edn.streamDocs(text)
      else Node.manyFromJson(text)
    }

  /** Whether any param in the tree is a masked `#secret` value — writers
    * ([[StreamRegistry.saveTo]]'s persistOne, the CLI `compile`) must
    * warn that the serialized copy is redacted.
    */
  def hasSecret(n: Node): Boolean = {
    def in(p: Any): Boolean = p match {
      case _: Edn.Secret => true
      case xs: Seq[_]    => xs.exists(in)
      case m: Map[_, _]  => m.asInstanceOf[Map[Any, Any]].exists { case (_, v) => in(v) }
      case _             => false
    }
    n.params.exists(in) || n.children.exists(hasSecret)
  }

  /** (name, default-flag, pipeline) of a `stream` document node — the
    * public twin of the registry's internal parse, for tools that need
    * the name without registering (CLI `compile`).
    */
  def streamMeta(n: Node): (String, Boolean, Node) = {
    require(n.action == "stream", s"expected a 'stream' node, got '${n.action}'")
    val (name, default) = n.params.headOption match {
      case Some(m: Map[_, _]) =>
        val mm = m.asInstanceOf[Map[String, Any]]
        (mm.get("name").map(_.toString.stripPrefix(":"))
          .getOrElse(throw new IllegalArgumentException("stream node without a name")),
          mm.get("default").contains(true))
      case Some(s) => (s.toString.stripPrefix(":"), false)
      case None    => throw new IllegalArgumentException("stream node without params")
    }
    val pipeline = n.children match {
      case Seq(single) => single
      case many        => Node("sdo", Nil, many)
    }
    (name, default, pipeline)
  }
}
