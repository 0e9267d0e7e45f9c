package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed quality-classifier TRAINING over embedding features —
  * full-batch gradient descent on a binary linear classifier, the
  * "train a fastText/linear quality filter on the corpus itself" step
  * every large-scale data pipeline runs before filtering
  * ([[graft.functions.Quality.classifierScore]] is the inference twin
  * for a pre-trained hashed text model; [[Importance.logScore]] is the
  * counting-trained NB variant).
  *
  * Scale design (the 100 TB question):
  *  - each iteration is ONE distributed pass: the weight vector (model-
  *    sized, d+1 doubles) ships to executors as a literal/broadcast; the
  *    per-row margin, prediction and per-dimension gradient contribution
  *    are pure codegen'd column algebra; the gradient reduction is a
  *    map-side-combined per-dimension aggregate (d+1 rows ever shuffled,
  *    n never moves).
  *  - iteration count is a small fixed constant (the caller's epochs);
  *    weights come back to the driver between passes — a model-sized
  *    `.collect()`, the same discipline as k-means centroids
  *    ([[Similarity.kmeansCentroids]]).
  *
  * Determinism discipline (same split as [[Importance]]):
  *  - [[trainLogisticExact]] is the oracle-exact path: the per-dimension
  *    gradient folds contributions in ascending id order via
  *    `array_sort(collect_list(struct(id, contrib)))` — double addition
  *    is re-ordered by nothing, so any engine reproduces the weights
  *    bit-for-bit. The activation is the algebraic sigmoid
  *    `0.5 * (1 + z / (1 + |z|))` (only +,*,/,|·| — engines agree
  *    exactly; `exp` is libm-dependent and would break cross-engine
  *    hash parity).
  *  - [[trainLogistic]] is the production path: identical update rule,
  *    but the gradient is a plain partial-aggregated `sum()` (addition
  *    order free) — full map-side combine, no per-dimension collect.
  */
object Training {

  /** Output schema of the trainers — the single source of truth the IR
    * validator's `train-logistic` stub builds its empty probe from.
    */
  val ModelSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("weight", org.apache.spark.sql.types.DoubleType)))

  /** Algebraic sigmoid in (0,1): `0.5 * (1 + z / (1 + |z|))`. Exactly
    * reproducible across engines (no transcendentals).
    */
  def fastSigmoid(z: Column): Column =
    lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))

  /** Margin `w · [x, 1]` for a weight vector `w` of length d+1 (last
    * entry = bias) against a d-dim feature array column — index-order
    * fold in double precision, so every engine sums in the same order.
    * Computed by the fused [[graft.functions.MarginDot]] kernel: an
    * unrolled `element_at` chain overflows the 64 KB Janino method limit
    * past a few hundred dims and silently drops the stage to interpreted
    * eval.
    */
  private def margin(vec: Column, w: Array[Double]): Column =
    graft.functions.VectorExpressions.marginDot(vec, w)

  private def gradientExact(df: DataFrame, idCol: String, vecCol: String,
                            yCol: Column, w: Array[Double], n: Long): Array[Double] = {
    val err = (fastSigmoid(margin(col(vecCol), w)) - yCol).as("__e")
    val contrib = df.select(col(idCol).as("__id"), err,
      concat(transform(col(vecCol), x => x.cast("double")), array(lit(1.0))).as("__x"))
      .select(col("__id"), posexplode(transform(col("__x"), x => x * col("__e"))).as(Seq("__d", "__c")))
    // ascending-id fold per dimension: deterministic double addition
    contrib.groupBy(col("__d"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("__id"), col("__c")))),
        lit(0.0), (acc, s) => acc + s.getField("__c")).as("__g"))
      .collect()
      .foldLeft(Array.fill(w.length)(0.0)) { (g, r) =>
        checkDim(r.getInt(0), w.length)
        g(r.getInt(0)) = r.getDouble(1) / n; g
      }
  }

  /** A contribution index past d+1 means some row's vector is LONGER than
    * the declared dim — fail with the cause, not an ArrayIndexOutOfBounds
    * from the weight update. (A SHORTER vector already fails inside the
    * per-row margin: [[graft.functions.MarginDot]] raises with the dim.)
    */
  private def checkDim(idx: Int, dims: Int): Unit =
    require(idx < dims,
      s"Training: vector longer than the declared dim ${dims - 1} (saw feature index $idx)")

  private def gradientFast(df: DataFrame, vecCol: String, yCol: Column,
                           w: Array[Double], n: Long): Array[Double] = {
    val err = (fastSigmoid(margin(col(vecCol), w)) - yCol).as("__e")
    val sums = df.select(err, col(vecCol))
      .select(posexplode(concat(
        transform(col(vecCol), x => x.cast("double") * col("__e")),
        array(col("__e")))).as(Seq("__d", "__c")))
      .groupBy(col("__d")).agg(sum(col("__c")).as("__g"))
      .collect()
    sums.foldLeft(Array.fill(w.length)(0.0)) { (g, r) =>
      checkDim(r.getInt(0), w.length)
      g(r.getInt(0)) = r.getDouble(1) / n; g
    }
  }

  private def trainImpl(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
                        dim: Int, epochs: Int, lr: Double, exact: Boolean): Array[Double] =
    trainTrace(df, idCol, vecCol, labelCol, dim, epochs, lr, exact).last

  /** Weight snapshots AFTER each epoch (length `epochs`) — the training
    * dynamics record dataset-cartography consumers need; cost identical
    * to [[trainImpl]] (the loop already has every snapshot in hand).
    */
  private def trainTrace(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
                         dim: Int, epochs: Int, lr: Double, exact: Boolean): Seq[Array[Double]] = {
    require(dim >= 1, s"Training: dim must be >= 1, got $dim")
    require(epochs >= 1, s"Training: epochs must be >= 1, got $epochs")
    // materialize the (id, vec, label) projection ONCE: the stats pass
    // plus every epoch's gradient re-ran the full upstream pipeline
    // (scan, fan-out repartition, any feature derivation) per pass —
    // epochs+1 corpus pipelines for one training run (r16, guide §2.4;
    // the standard cache-the-training-set discipline)
    val tdf = Materialize(df.select(col(idCol), col(vecCol), col(labelCol)))
    val y = col(labelCol).cast("double")
    // ONE stats pass: row count, null labels/vectors, null ELEMENTS
    // inside vectors — all of which would silently damp the fast path's
    // sum()-gradient while n still counts them, or NPE the exact fold.
    // (Empty-frame totality for the IR validator lives in the
    // train-logistic builder's declared shape, not here: an empty
    // PRODUCTION training frame is a loud error, not a zero model.)
    val Array(st) = tdf.agg(
      count(lit(1)), count(col(labelCol)), count(col(vecCol)),
      count(when(exists(col(vecCol), x => x.isNull), 1))).collect()
    val n = st.getLong(0)
    require(n > 0, "Training: empty training frame")
    require(st.getLong(1) == n && st.getLong(2) == n,
      s"Training: null $labelCol/$vecCol values in the training frame — filter them first")
    require(st.getLong(3) == 0,
      s"Training: null elements inside $vecCol arrays — repair or drop those rows first")
    var w = Array.fill(dim + 1)(0.0)
    val trace = Seq.newBuilder[Array[Double]]
    for (_ <- 1 to epochs) {
      val g = if (exact) gradientExact(tdf, idCol, vecCol, y, w, n)
              else gradientFast(tdf, vecCol, y, w, n)
      w = w.zip(g).map { case (wi, gi) => wi - lr * gi }
      trace += w
    }
    trace.result()
  }

  /** Oracle-exact trainer — returns the weight frame `(dim, weight)`
    * with `dim` in `[0, d]` (index d = bias). Bit-reproducible in any
    * engine (sorted gradient folds, algebraic sigmoid).
    */
  def trainLogisticExact(df: DataFrame, idCol: String, vecCol: String,
                         labelCol: String, dim: Int, epochs: Int,
                         lr: Double): DataFrame = {
    val w = trainImpl(df, idCol, vecCol, labelCol, dim, epochs, lr, exact = true)
    val spark = df.sparkSession
    import spark.implicits._
    w.zipWithIndex.map { case (wi, i) => (i, wi) }.toSeq.toDF("dim", "weight")
  }

  /** Oracle-exact trainer, full trajectory: `(epoch, dim, weight)` with
    * `epoch` in `[1, epochs]` — the per-epoch snapshots dataset
    * cartography consumes ([[Pruning.cartography]]). Same cost as
    * [[trainLogisticExact]]: the GD loop already has every snapshot.
    */
  def trainLogisticExactTrace(df: DataFrame, idCol: String, vecCol: String,
                              labelCol: String, dim: Int, epochs: Int,
                              lr: Double): DataFrame = {
    val tr = trainTrace(df, idCol, vecCol, labelCol, dim, epochs, lr, exact = true)
    val spark = df.sparkSession
    import spark.implicits._
    tr.zipWithIndex.flatMap { case (w, e) =>
      w.zipWithIndex.map { case (wi, i) => (e + 1, i, wi) }
    }.toDF("epoch", "dim", "weight")
  }

  /** Production trainer — identical update rule, gradient by plain
    * partial-aggregated sums (order-free, fully map-side-combined).
    */
  def trainLogistic(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, dim: Int, epochs: Int,
                    lr: Double): DataFrame = {
    val w = trainImpl(df, idCol, vecCol, labelCol, dim, epochs, lr, exact = false)
    val spark = df.sparkSession
    import spark.implicits._
    w.zipWithIndex.map { case (wi, i) => (i, wi) }.toSeq.toDF("dim", "weight")
  }

  /** Persist a trained model frame `(dim, weight)` as a parquet
    * artifact — same discipline as [[Similarity.saveCentroids]]: a
    * 100 TB pipeline trains ONCE (often on a sample) and reuses the
    * model-sized artifact across every scoring job.
    */
  def saveModel(model: DataFrame, path: String): Unit =
    model.select(col("dim").cast("int"), col("weight").cast("double"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a model written by [[saveModel]], in dim order. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("dim"), col("weight")).orderBy("dim")

  private val weightCache =
    new scala.collection.concurrent.TrieMap[String, (String, Array[Double])]()

  /** File-listing fingerprint of a local model directory: (name, mtime,
    * size) of every entry. Non-local paths (s3://…) fingerprint as the
    * path itself — remote artifacts are treated as immutable.
    */
  private def artifactFingerprint(path: String): String = {
    val p = try java.nio.file.Paths.get(path) catch { case _: Exception => null }
    if (p == null || !java.nio.file.Files.isDirectory(p)) path
    else {
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(p)
      try listing.iterator().asScala
        .map(f => s"${f.getFileName}:${java.nio.file.Files.getLastModifiedTime(f).toMillis}:${java.nio.file.Files.size(f)}")
        .toSeq.sorted.mkString("|")
      finally listing.close()
    }
  }

  /** [[loadModel]] collected to a weight array, cached by path — the IR
    * `score-logistic` dispatch rebuilds its transform on every run
    * (streaming: every push), and re-reading + re-collecting a
    * model-sized artifact per microbatch is pure waste. Staleness: the
    * cache revalidates against a file-listing fingerprint (one cheap
    * stat pass), so an in-place `saveModel` rewrite IS picked up on the
    * next scoring run; remote paths are assumed immutable.
    */
  def loadWeightsCached(spark: org.apache.spark.sql.SparkSession, path: String): Array[Double] = {
    val fp = artifactFingerprint(path)
    weightCache.get(path) match {
      case Some((cachedFp, w)) if cachedFp == fp => w
      case _ =>
        val w = loadModel(spark, path).collect().sortBy(_.getInt(0)).map(_.getDouble(1))
        require(w.nonEmpty, s"Training: empty model at '$path'")
        weightCache.put(path, (fp, w))
        w
    }
  }

  /** Map-side scoring from a pre-collected weight array. */
  def scoreWithWeights(df: DataFrame, vecCol: String, w: Array[Double],
                       scoreCol: String): DataFrame = {
    require(w.nonEmpty, "Training.scoreWithWeights: empty weights")
    df.withColumn(scoreCol, fastSigmoid(margin(col(vecCol), w)))
  }

  /** Confusion counts + accuracy of a trained model against labels:
    * one map-side score pass and a 4-row aggregate — `(tp, fp, tn, fn,
    * accuracy)`, threshold 0.5. Counts are integers, so the result is
    * engine-exact even though scores are floats.
    */
  def evaluateLogistic(df: DataFrame, vecCol: String, labelCol: String,
                       model: DataFrame): DataFrame = {
    val scored = scoreLogistic(df, vecCol, model, "__p")
      .select((col(labelCol).cast("int") === 1).as("__y"), (col("__p") >= 0.5).as("__pred"))
    scored.agg(
      count(when(col("__y") && col("__pred"), 1)).as("tp"),
      count(when(!col("__y") && col("__pred"), 1)).as("fp"),
      count(when(!col("__y") && !col("__pred"), 1)).as("tn"),
      count(when(col("__y") && !col("__pred"), 1)).as("fn"))
      .withColumn("accuracy",
        (col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("tn") + col("fn")).cast("double"))
  }

  /** Map-side scoring with a trained weight row-frame `(dim, weight)`:
    * adds `scoreCol` = fastSigmoid(w · [x, 1]). The model collects to
    * the driver (model-sized) and scoring is pure column algebra.
    */
  def scoreLogistic(df: DataFrame, vecCol: String, model: DataFrame,
                    scoreCol: String): DataFrame = {
    val w = model.select(col("dim"), col("weight")).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    require(w.nonEmpty, "Training.scoreLogistic: empty model")
    df.withColumn(scoreCol, fastSigmoid(margin(col(vecCol), w)))
  }

  /** Preference-pair mining — the DPO/RLHF data-prep step: per prompt
    * group, pair the highest-scored response (CHOSEN) with the
    * lowest-scored one (REJECTED), keeping groups whose score gap
    * reaches `minGap` (a pair the reward model barely separates teaches
    * nothing and drowns the gradient — the standard margin filter).
    * Ties break to the LOWER response id on both sides, so the output
    * is deterministic under any input order; single-response groups
    * and all-tied groups (gap 0 < minGap) emit nothing.
    *
    * Output: `(groupCol, chosen_id, rejected_id, chosen_score,
    * rejected_score, score_gap)`, one row per surviving group.
    *
    * Scale: ONE map-side-combined aggregate — two `min_by` argmaxes
    * over lexicographic (score, id) structs plus min/max/count — so a
    * viral prompt with 10⁸ scored completions collapses per input
    * partition; nothing row-scale ever shuffles and no window runs.
    */
  /** Best-of-n selection — rejection sampling / BoN distillation data
    * prep: keep the single highest-scored response ROW per prompt group
    * (ties to the lower id; null scores never win — a group whose every
    * score is null emits nothing). The argmax face of
    * [[preferencePairs]]: the same ONE map-side-combined `min_by`
    * aggregate over a lexicographic (−score, id) struct, so group size
    * never concentrates in a partition. All input columns survive.
    */
  def bestOfN(df: DataFrame, groupCol: String, idCol: String,
              scoreCol: String): DataFrame = {
    val cols = df.columns
    val s = col(scoreCol).cast("double")
    df.filter(s.isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(min_by(struct(cols.map(col): _*),
        struct((-s).as("a"), col(idCol).as("b"))).as("__r"))
      .select(cols.map(c => col(s"__r.`$c`").as(c)): _*)
  }

  def preferencePairs(df: DataFrame, groupCol: String, idCol: String,
                      scoreCol: String, minGap: Double = 0.0): DataFrame = {
    require(minGap >= 0.0, s"preferencePairs: minGap must be >= 0, got $minGap")
    val s = col(scoreCol).cast("double")
    df.filter(s.isNotNull)
      .groupBy(col(groupCol))
      .agg(
        // argmax score, tie -> min id: minimize (-score, id)
        min_by(col(idCol), struct((-s).as("a"), col(idCol).as("b"))).as("chosen_id"),
        // argmin score, tie -> min id: minimize (score, id)
        min_by(col(idCol), struct(s.as("a"), col(idCol).as("b"))).as("rejected_id"),
        max(s).as("chosen_score"),
        min(s).as("rejected_score"),
        count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 &&
        (col("chosen_score") - col("rejected_score")) >= minGap &&
        col("chosen_score") > col("rejected_score"))
      .select(col(groupCol), col("chosen_id"), col("rejected_id"),
        col("chosen_score"), col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("score_gap"))
  }
}
