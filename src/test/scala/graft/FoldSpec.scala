package graft

import graft.ir.{Engine, EngineCtx}
import graft.model.Event
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-key fold actions (`throttle`, `ewma-timeless`, `smax`, `smin`,
  * `ddt`, `ddt-pos`, the five `*-dt` and `changed`) built through
  * `Engine.applyOp` as a pipeline builds them: one definition per action,
  * so a batch frame and a stream give the same rows — including on null
  * metrics, null fields and null, integral or other typed keys — keep
  * every input column, and building the batch plan starts no Spark job.
  */
class FoldSpec extends AnyFunSuite {
  import TestSpark._

  private val ctx = EngineCtx()
  private var ctr = 0

  /** (action, params) for every fold action. */
  private val folds: Seq[(String, Seq[Any])] = Seq(
    "throttle"      -> Seq(Map("count" -> 2L, "duration" -> 10L)),
    "ewma-timeless" -> Seq(0.5),
    "smax"          -> Nil,
    "smin"          -> Nil,
    "ddt"           -> Nil,
    "ddt-pos"       -> Nil,
    "above-dt"      -> Seq(Map("threshold" -> 5.0, "duration" -> 2L)),
    "below-dt"      -> Seq(Map("threshold" -> 5.0, "duration" -> 2L)),
    "between-dt"    -> Seq(Map("low" -> 2.0, "high" -> 8.0, "duration" -> 2L)),
    "outside-dt"    -> Seq(Map("low" -> 2.0, "high" -> 8.0, "duration" -> 2L)),
    "cond-dt"       -> Seq(Map("condition" -> Seq(">", "metric", 5), "duration" -> 2L)),
    "changed"       -> Seq(Map("field" -> "state", "init" -> "ok")))

  private def op(action: String, keys: Seq[String] = Seq("host")): DataFrame => DataFrame =
    Engine.applyOp(action, folds.toMap.apply(action), keys, ctx)

  /** Run `transform` over a MemoryStream, one micro-batch per inner Seq. */
  private def runStream(transform: DataFrame => DataFrame, batches: Seq[Seq[Event]]): DataFrame = {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"fold_out_$ctr"
    val ms = MemoryStream[Event]
    val q = transform(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    s.table(name)
  }

  private def byId(df: DataFrame): Map[Long, Option[Double]] =
    df.select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap

  /** Stream (split after `split` events) and batch give the same rows. */
  private def assertStreamEqualsBatch(action: String, fx: Seq[Event], split: Int,
                                      keys: Seq[String] = Seq("host"),
                                      prep: DataFrame => DataFrame = identity): Unit = {
    val streamed = byId(runStream(df => op(action, keys)(prep(df)), Seq(fx.take(split), fx.drop(split))))
    val batch = byId(op(action, keys)(prep(events(fx: _*))))
    assert(streamed == batch, s"$action: stream $streamed != batch $batch")
  }

  test("building every fold over a non-empty batch frame starts no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fold").toString + "/ev"
    events((1 to 200).map(i => ev(i % 11, i * S, host = s"h${i % 7}", id = i)): _*)
      .write.parquet(dir)
    val df = spark.read.parquet(dir)
    val sc = spark.sparkContext
    val started = folds.map { case (action, _) =>
      var jobs = 0
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
      }
      ListenerBusDrain.drain(sc)
      sc.addSparkListener(listener)
      try {
        op(action)(df)
        ListenerBusDrain.drain(sc)
      } finally sc.removeSparkListener(listener)
      action -> jobs
    }.filter(_._2 > 0)
    assert(started.isEmpty, s"building these folds started Spark jobs: $started")
  }

  test("every fold keeps the input's columns, batch and stream") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val batch = events(ev(1, 1 * S, id = 1)).withColumn("region", lit("eu"))
    val stream = MemoryStream[Event].toDF().withColumn("region", lit("eu"))
    folds.foreach { case (action, _) =>
      assert(op(action)(batch).schema == batch.schema, s"$action (batch)")
      assert(op(action)(stream).schema == stream.schema, s"$action (stream)")
    }
  }

  test("stream == batch on a null key, an empty-string key and salt's integral key") {
    val fx = Seq(
      ev(10, 1 * S, id = 1).copy(host = None), ev(20, 2 * S, host = "", id = 2),
      ev(30, 3 * S, id = 3).copy(host = None), ev(40, 4 * S, host = "", id = 4),
      ev(50, 5 * S, id = 5).copy(host = None), ev(60, 6 * S, host = "", id = 6),
      ev(70, 7 * S, host = "a", id = 7), ev(80, 8 * S, host = "a", id = 8))
    val salted = (df: DataFrame) => df.withColumn("__salt", pmod(col("eventId"), lit(2)).cast("int"))
    // null and "" are separate keys (ids 1/3/5 and 2/4/6), and salt
    // splits host a into ids 7 and 8
    assertStreamEqualsBatch("ewma-timeless", fx, 3)
    assertStreamEqualsBatch("ewma-timeless", fx, 3, Seq("host", "__salt"), salted)
    val expected = Map(
      1L -> Some(5.0), 3L -> Some(17.5), 5L -> Some(33.75),
      2L -> Some(10.0), 4L -> Some(25.0), 6L -> Some(42.5))
    assert(byId(op("ewma-timeless")(events(fx: _*))) ==
      expected ++ Map(7L -> Some(35.0), 8L -> Some(57.5)))
    assert(byId(op("ewma-timeless", Seq("host", "__salt"))(salted(events(fx: _*)))) ==
      expected ++ Map(7L -> Some(35.0), 8L -> Some(40.0)))
  }

  test("boolean, date, timestamp and decimal key columns group as in a stream; a double key is rejected") {
    val fx = (1 to 8).map(i => ev(i * 3 % 7, i * S, host = if (i % 3 == 0) "a" else "b", id = i))
    val typedKeys = (df: DataFrame) => {
      val a = col("host") === "a"
      df.withColumn("kb", a)
        .withColumn("kd", date_add(lit("2024-01-01").cast("date"), when(a, 0).otherwise(1)))
        .withColumn("kts", when(a, lit("2024-01-01 00:00:00")).otherwise(lit("2024-01-02 00:00:00")).cast("timestamp"))
        .withColumn("kdec", when(a, lit(1.5)).otherwise(lit(2.5)).cast("decimal(10,2)"))
    }
    Seq("kb", "kd", "kts", "kdec").foreach { k =>
      Seq("ewma-timeless", "smax", "ddt", "changed").foreach { action =>
        assertStreamEqualsBatch(action, fx, 4, Seq(k), typedKeys)
        assert(byId(op(action, Seq(k))(typedKeys(events(fx: _*)))) == byId(op(action)(events(fx: _*))),
          s"$action keyed by $k groups as keyed by host")
      }
    }
    folds.foreach { case (action, _) =>
      val e = intercept[IllegalArgumentException](op(action, Seq("metric"))(events(fx: _*)))
      assert(e.getMessage.contains("metric"), action)
    }
  }

  test("smax/smin: an event without a metric carries the extremum so far, in both modes") {
    val fx = Seq(ev(3, 1 * S, id = 1), ev(0, 2 * S, id = 2).copy(metric = None),
      ev(5, 3 * S, id = 3), ev(0, 4 * S, id = 4).copy(metric = None), ev(1, 5 * S, id = 5))
    assertStreamEqualsBatch("smax", fx, 3)
    assertStreamEqualsBatch("smin", fx, 3)
    assert(byId(op("smax")(events(fx: _*)))(4L).contains(5.0))
  }

  test("ddt differences against the immediately preceding event, null metric or not, in both modes") {
    val fx = Seq(ev(10, 1 * S, id = 1), ev(0, 2 * S, id = 2).copy(metric = None),
      ev(30, 3 * S, id = 3), ev(40, 4 * S, id = 4))
    assertStreamEqualsBatch("ddt", fx, 2)
    val batch = byId(op("ddt")(events(fx: _*)))
    assert(batch == Map(2L -> None, 3L -> None, 4L -> Some(10.0 / S)))
  }

  test("changed compares against init where the previous field is null, in both modes") {
    val fx = Seq(ev(1, 1 * S, state = "ok", id = 1), ev(1, 2 * S, id = 2).copy(state = None),
      ev(1, 3 * S, state = "ok", id = 3), ev(1, 4 * S, state = "critical", id = 4))
    assertStreamEqualsBatch("changed", fx, 2)
    assertStreamEqualsBatch("changed", fx, 2, keys = Nil)
    assert(byId(op("changed")(events(fx: _*))).keySet == Set(2L, 4L))
  }
}
