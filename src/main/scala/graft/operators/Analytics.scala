package graft.operators

import graft.conditions.Condition
import graft.model.Event
import graft.streaming.Streaming
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-sensitive operators (SURVEY §2.5 "stateful" rows): batch
  * implementations over analytic window functions, plus the genuinely
  * sequential per-key folds, each declared once as a step that both a
  * batch frame and a stream run ([[perKeyFold]]).
  *
  * Design for scale: every operator partitions by the `by`-keys (the
  * reference's per-key fork, `action.clj:1559-1641`) — state never crosses
  * a key boundary, so Spark distributes these as one shuffle on the keys
  * followed by a per-partition sort (external, spillable). Running them
  * keyless reproduces the reference's single-stream semantics but forces a
  * single partition — supported for parity, not the scale path.
  */
object Analytics {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val warnedKeyless = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Keyless mode reproduces the reference's single-stream semantics but
    * collapses the whole input into ONE partition — a 100×-scale footgun.
    * It stays supported for parity/small data, but never silently: one
    * loud warning per operator per JVM.
    */
  private def warnKeyless(op: String, keys: Seq[String]): Unit =
    if (keys.isEmpty && warnedKeyless.add(op))
      log.warn(s"graft: keyless '$op' collapses to a SINGLE partition — " +
        "pass grouping keys (the `by` fields) for any data that doesn't fit one executor")

  private def orderedWindow(keys: Seq[String]): WindowSpec = {
    warnKeyless("analytic-window", keys)
    val w = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    w.orderBy(col("time"), col("eventId"))
  }

  /** Sessionize: group events into per-key sessions separated by gaps of
    * more than `gapSeconds`, one output row per session with its start,
    * end, and event count. Times are µs-aligned ns and the session end is
    * `last event + gap` — exactly Spark's `session_window` semantics, so
    * the streaming twin ([[graft.streaming.Streaming.sessionize]]) is the
    * NATIVE session window and this batch form matches it row for row.
    */
  def sessionize(gapSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val gapNs = gapSeconds * Event.NsPerSecond
    val w = orderedWindow(keys)
    df.withColumn("__t", expr("(time div 1000) * 1000"))
      .withColumn("__new",
        when(lag(col("__t"), 1).over(w).isNull ||
          col("__t") - lag(col("__t"), 1).over(w) > gapNs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(keys.map(col) :+ col("__sid"): _*)
      .agg(min(col("__t")).as("session_start"),
        (max(col("__t")) + gapNs).as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("__sid")
  }

  /** `moving-event-window` — sliding last-N-events payload, one output per
    * input (`action.clj:1220-1246`).
    */
  def movingEventWindow(n: Int, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val w = orderedWindow(keys).rowsBetween(-(n - 1), 0)
    df.withColumn("events", collect_list(struct(df.columns.map(col): _*)).over(w))
  }

  /** `moving-time-window` — sliding last-N-seconds payload
    * (`action.clj:2596-2639`). Range frame over the ns-long time axis.
    */
  def movingTimeWindow(seconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    warnKeyless("moving-time-window", keys)
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val w = base.orderBy(col("time")).rangeBetween(-(seconds * Event.NsPerSecond - 1), 0)
    df.withColumn("events", collect_list(struct(df.columns.map(col): _*)).over(w))
  }

  /** `fixed-event-window` — count-based tumbling window of size N
    * (`action.clj:233-262`); only complete windows emit.
    */
  def fixedEventWindow(n: Int, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val rn = row_number().over(orderedWindow(keys))
    val winId = expr(s"(__rn - 1) div $n")
    df.withColumn("__rn", rn).withColumn("window_id", winId)
      .groupBy((keys.map(col) :+ col("window_id")): _*)
      .agg(Windows.collectOrdered(df.columns.toSeq).as("events"))
      .filter(size(col("events")) === n)
  }

  /** `stable` — flap damping: events pass only if the field's value stays
    * constant for at least `dt` seconds (`action.clj:2053-2138`). A run of
    * equal values either reaches `dt` (first event past `run_start+dt`
    * flushes the whole buffered run) and then every event of the run is
    * emitted, or dies early and emits nothing.
    */
  def stable(dtSeconds: Long, field: String, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val w = orderedWindow(keys)
    val flips = sum(
      when(lag(col(field), 1).over(w).isNull || !(lag(col(field), 1).over(w) <=> col(field)), 1)
        .otherwise(0)).over(w.rowsBetween(Window.unboundedPreceding, 0))
    val d = df.withColumn("__run", flips)
    val runW = (if (keys.isEmpty) Window.partitionBy(col("__run"))
                else Window.partitionBy((keys.map(col) :+ col("__run")): _*))
    d.withColumn("__start", min(col("time")).over(runW))
      .withColumn("__end", max(col("time")).over(runW))
      .filter(col("__end") > col("__start") + lit(dtSeconds * Event.NsPerSecond))
      .drop("__run", "__start", "__end")
  }

  // --------------------------------------------------------------------
  // Sequential per-key folds: each action below declares ONE step, and
  // two drivers run it. A batch frame takes one shuffle on the keys, an
  // external sort and a linear pass over the Tungsten rows (no Event
  // decode, no collect); a stream takes the same step in the TTL'd
  // state-store harness (Streaming.foldStream). Both group by the same
  // key rule and keep every column of the input.
  // --------------------------------------------------------------------

  /** Per-row verdict of a fold step. */
  sealed trait Emit
  object Emit {
    /** Drop the event. */
    case object Drop extends Emit
    /** Emit the event unchanged. */
    case object Keep extends Emit
    /** Emit the event with `metric` replaced; `null` clears it. */
    final case class SetMetric(m: java.lang.Double) extends Emit
  }

  /** One fold step: `(state, time, metric, probe) => (state', verdict)`.
    * `metric` is null when the event has none; `probe` is the event's
    * value of the builder's probe column (null without one). A null state
    * means "nothing to keep": the stream harness removes it, and the key
    * restarts from `init`, so only a fold whose `init` is null returns one.
    * The state type needs an `Encoder`: a stream keeps it in the state
    * store.
    */
  type Step[S] = (S, Long, java.lang.Double, Any) => (S, Emit)

  /** Name of the probe column while a fold runs. */
  private[graft] val ProbeCol = "__probe"

  /** Run `step` per key in (time, eventId) order over a batch or a
    * streaming frame; `init` is the state of a key not seen yet. `probe`
    * is computed before the fold and handed to every step. `forkTtl` is
    * the streams' idle-key eviction ([[graft.streaming.Streaming.DefaultForkTtlSeconds]]);
    * a batch fold ends with its job, so it ignores it.
    *
    * Keys: a top-level column is read directly — any atomic type but
    * floating-point and binary, whose values the batch scan cannot compare
    * by equality (`salt`'s int `__salt` included) — and a null key is its
    * own group, distinct from `""`; any other key is looked up in
    * `attributes`.
    */
  def perKeyFold[S: Encoder](df: DataFrame, keys: Seq[String], probe: Option[Column] = None,
                             forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(
      init: () => S)(step: Step[S]): DataFrame =
    withFoldInput(df, keys, probe) { (input, keyCols) =>
      if (df.isStreaming) Streaming.foldStream(input, keyCols, forkTtl, init, step)
      else scan(input, keyCols, init, step)
    }

  /** The batch driver of [[perKeyFold]] for a step that reads no probe. */
  def perKeyMetricScan[S](df: DataFrame, keys: Seq[String])(init: () => S)(
      step: (S, Long, java.lang.Double) => (S, Emit)): DataFrame =
    withFoldInput(df, keys, None)((input, keyCols) =>
      scan[S](input, keyCols, init, (s, t, m, _) => step(s, t, m)))

  /** A field as a column: top-level if the frame has it, else the
    * `attributes` entry of that name.
    */
  private def field(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name) else col("attributes").getItem(name)

  /** Run a fold driver over `df` with the probe and any attribute keys
    * appended as columns (dropped again from its output); the driver gets
    * the top-level names of the key columns.
    */
  private def withFoldInput(df: DataFrame, keys: Seq[String], probe: Option[Column])(
      run: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    val withProbe = probe.fold(df)(df.withColumn(ProbeCol, _))
    val (input, keyCols) = keys.zipWithIndex.foldLeft((withProbe, Seq.empty[String])) {
      case ((d, names), (k, i)) =>
        if (!df.columns.contains(k)) (d.withColumn(s"__key$i", field(df, k)), names :+ s"__key$i")
        else df.schema(k).dataType match {
          case _: StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
               DateType | TimestampType | TimestampNTZType | _: DecimalType => (d, names :+ k)
          case dt => throw new IllegalArgumentException(
            s"per-key-scan key '$k' is a top-level ${dt.simpleString} column; " +
              "floating-point, binary and complex columns cannot be grouping keys")
        }
    }
    run(input, keyCols).drop(input.columns.diff(df.columns).toSeq: _*)
  }

  /** The batch driver: one shuffle on the keys, a sort by (keys, time,
    * eventId), then a pass over the rows that reads only the key, `time`,
    * `metric` and probe fields — `tags` and `attributes` stay undecoded
    * bytes. Lazy: building it starts no Spark job.
    */
  private def scan[S](df: DataFrame, keys: Seq[String], init: () => S, step: Step[S]): DataFrame = {
    warnKeyless("per-key-scan", keys)
    val schema = df.schema
    val sortCols = keys.map(col) ++ Seq(col("time"), col("eventId"))
    val parted = (if (keys.isEmpty) df.repartition(1) else df.repartition(keys.map(col): _*))
      .sortWithinPartitions(sortCols: _*)
    val timeOrd = schema.fieldIndex("time")
    val metricOrd = schema.fieldIndex("metric")
    val probeOrd = schema.fieldNames.indexOf(ProbeCol)
    val probeType = if (probeOrd < 0) NullType else schema(probeOrd).dataType
    val probeOf = Bridge.toScala(probeType)
    val keyOrds = keys.map(schema.fieldIndex).toArray
    val keyTypes = keyOrds.map(schema(_).dataType)

    val rdd = Bridge.toInternalRows(parted).mapPartitions { it =>
      val nk = keyOrds.length
      // a string key is a view of the sorter's reused buffer: compare it
      // in place, and copy it only when it becomes the current key
      def keyAt(row: InternalRow, i: Int): Any =
        if (row.isNullAt(keyOrds(i))) null else row.get(keyOrds(i), keyTypes(i))
      val cur = new Array[Any](nk)
      var started = false
      var state: S = null.asInstanceOf[S]
      it.flatMap { row =>
        var changed = !started
        var i = 0
        while (!changed && i < nk) { changed = keyAt(row, i) != cur(i); i += 1 }
        if (changed) {
          for (j <- 0 until nk) cur(j) = keyAt(row, j) match {
            case s: UTF8String => s.clone()
            case v             => v
          }
          started = true
          state = init()
        }
        val metric: java.lang.Double =
          if (row.isNullAt(metricOrd)) null else row.getDouble(metricOrd)
        val probe = if (probeOrd < 0 || row.isNullAt(probeOrd)) null
                    else probeOf(row.get(probeOrd, probeType))
        val (s2, emit) = step(state, row.getLong(timeOrd), metric, probe)
        state = s2
        emit match {
          case Emit.Keep => Iterator.single(row)
          case Emit.Drop => Iterator.empty
          case Emit.SetMetric(v) =>
            // The sorter reuses its row buffer; copy before mutating.
            val r2 = row.copy()
            if (v == null) r2.setNullAt(metricOrd) else r2.setDouble(metricOrd, v)
            Iterator.single(r2)
        }
      }
    }
    Bridge.fromInternalRows(df.sparkSession, rdd, schema)
  }

  /** `ewma-timeless` — EWMA with ratio r, seeded at 0, one output per
    * input (`action.clj:1249-1276`): m' = (1-r)*m + r*x.
    */
  def ewmaTimeless(r: Double, keys: Seq[String] = Nil,
                   forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(df: DataFrame): DataFrame =
    perKeyFold(df, keys, forkTtl = forkTtl)(() => 0.0) { (m, _, x, _) =>
      if (x == null) (m, Emit.Keep)
      else {
        val m2 = (1 - r) * m + r * x
        (m2, Emit.SetMetric(m2))
      }
    }(Encoders.scalaDouble)

  /** `throttle` — let at most N events pass per duration; the window opens
    * at the first event's time and re-opens at the first event past
    * `start + duration` (`action.clj:1163-1217`).
    */
  def throttle(count: Int, durationSeconds: Long, keys: Seq[String] = Nil,
               forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(df: DataFrame): DataFrame = {
    val durNs = durationSeconds * Event.NsPerSecond
    perKeyFold(df, keys, forkTtl = forkTtl)(() => (Long.MinValue, 0)) { case (s @ (start, n), t, _, _) =>
      if (start == Long.MinValue || t >= start + durNs) ((t, 1), Emit.Keep)
      else if (n >= count) (s, Emit.Drop)
      else ((start, n + 1), Emit.Keep)
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
  }

  /** `changed` — pass only when the field differs from the previous
    * event's value (`action.clj:1329-1375`); `init` stands in for a
    * previous value that is absent or null. The field is compared in the
    * common type of the field and `init`.
    */
  def changed(fieldName: String, init: Any, keys: Seq[String] = Nil,
              forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(df: DataFrame): DataFrame = {
    val v = field(df, fieldName)
    val dt = df.select(coalesce(v, lit(init))).schema.head.dataType
    val seed = Bridge.evalConstant(lit(init).cast(dt), dt)
    // the state is the previous value as a one-field row: the field's
    // type is only known from the frame
    perKeyFold(df, keys, Some(v.cast(dt)), forkTtl)(() => Row(seed)) { (prev, _, _, x) =>
      (Row(if (x == null) seed else x), if (x == prev.get(0)) Emit.Drop else Emit.Keep)
    }(Encoders.row(new StructType().add("prev", dt)))
  }

  /** `ddt` / `ddt-pos` — d(metric)/d(time) against the immediately
    * preceding event (`action.clj:1042-1083`). The reference divides by
    * the raw ns time delta; the first event and zero-dt pairs emit
    * nothing, a null metric on either side gives a null derivative, and
    * `ddt-pos` drops negative (and null) derivatives (counter resets).
    */
  def ddt(keys: Seq[String] = Nil, removeNeg: Boolean = false,
          forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(df: DataFrame): DataFrame =
    perKeyFold(df, keys, forkTtl = forkTtl)(() => null: (Long, java.lang.Double)) { (prev, t, m, _) =>
      val emit =
        if (prev == null || t == prev._1) Emit.Drop
        else if (m == null || prev._2 == null) (if (removeNeg) Emit.Drop else Emit.SetMetric(null))
        else {
          val d = (m - prev._2) / (t - prev._1).toDouble
          if (removeNeg && d < 0) Emit.Drop else Emit.SetMetric(d)
        }
      ((t, m), emit)
    }(Encoders.tuple(Encoders.scalaLong, Encoders.DOUBLE))
  def ddtPos(keys: Seq[String] = Nil)(df: DataFrame): DataFrame = ddt(keys, removeNeg = true)(df)

  /** `smax` / `smin` — running extremum, re-emitted per input
    * (`action.clj:2742-2795`): metric becomes the running max/min; an
    * event without a metric carries the extremum so far.
    */
  def smax(keys: Seq[String] = Nil,
           forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(df: DataFrame): DataFrame =
    extremum(df, keys, forkTtl, sign = 1)
  def smin(keys: Seq[String] = Nil,
           forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(df: DataFrame): DataFrame =
    extremum(df, keys, forkTtl, sign = -1)

  private def extremum(df: DataFrame, keys: Seq[String], forkTtl: Option[Long], sign: Int): DataFrame =
    perKeyFold(df, keys, forkTtl = forkTtl)(() => null: java.lang.Double) { (cur, _, m, _) =>
      val c = if (m == null || (cur != null && sign * java.lang.Double.compare(cur, m) >= 0)) cur else m
      (c, if (c == m) Emit.Keep else Emit.SetMetric(c))
    }(Encoders.DOUBLE)

  /** `above-dt` / `below-dt` / `between-dt` / `outside-dt` / `cond-dt` —
    * the condition must hold for more than `dt` seconds, then matching
    * events pass until it breaks (`action.clj:476-647`). State is the
    * start of the current run of matching events; an event passes iff
    * `time > run_start + dt` (strict, as in the reference:
    * `(> event-time (+ time dt))`).
    */
  def condDt(condition: Condition, dtSeconds: Long, keys: Seq[String] = Nil,
             forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(df: DataFrame): DataFrame =
    holdsFor(df, keys, dtSeconds, Some(condition.column), forkTtl)((_, p) => p == true)

  def aboveDt(threshold: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    holdsFor(df, keys, dtSeconds)((m, _) => m != null && m > threshold)
  def belowDt(threshold: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    holdsFor(df, keys, dtSeconds)((m, _) => m != null && m < threshold)
  def betweenDt(low: Double, high: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    holdsFor(df, keys, dtSeconds)((m, _) => m != null && m > low && m < high)
  def outsideDt(low: Double, high: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    holdsFor(df, keys, dtSeconds)((m, _) => m != null && (m < low || m > high))

  private def holdsFor(df: DataFrame, keys: Seq[String], dtSeconds: Long, probe: Option[Column] = None,
                       forkTtl: Option[Long] = Some(Streaming.DefaultForkTtlSeconds))(
      holds: (java.lang.Double, Any) => Boolean): DataFrame = {
    val dtNs = dtSeconds * Event.NsPerSecond
    perKeyFold(df, keys, probe, forkTtl)(() => null: java.lang.Long) { (start, t, m, p) =>
      if (!holds(m, p)) (null, Emit.Drop)
      else {
        val s: java.lang.Long = if (start == null) t else start
        (s, if (t > s + dtNs) Emit.Keep else Emit.Drop)
      }
    }(Encoders.LONG)
  }
}
