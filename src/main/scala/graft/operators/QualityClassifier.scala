package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained document-quality classifier — the model-based filter rung of
  * the public LLM curation pipelines (GPT-3's logistic-regression
  * quality filter over hashed features, Brown et al. 2020 appendix A;
  * LLaMA's fastText-style linear classifier, Touvron et al. 2023;
  * both descend from the hashing trick of Weinberger et al. 2009 and
  * fastText, Joulin et al. 2016): logistic regression over hashed
  * bag-of-words term frequencies plus a handful of dense structural
  * features, trained by full-batch gradient descent AS SPARK
  * AGGREGATIONS — the corpus never leaves the cluster, the model (a
  * `2^dimBits + 7`-float vector) is the only driver-side state.
  *
  * Everything is deterministic by construction, the
  * [[IvfSearch.trainCentroids]] discipline: every gradient and margin
  * sum accumulates integer-scaled longs (`round(x·1e9)`), so results
  * do not depend on partitioning or float summation order — the same
  * corpus always trains the same model, which is what makes a
  * classifier-gated corpus build reproducible.
  *
  * Scale shape per iteration: ONE pass computing per-doc margins
  * (features equi-join the dim-sized weight table — AQE broadcasts
  * it — then partial-agg groupBy on the doc id) and ONE pass
  * computing per-feature gradients (features equi-join the per-doc
  * error — slim (id, err) rows — then partial-agg groupBy on the
  * feature id). The only collect is the dim-sized gradient vector.
  * Feature extraction runs once (lazily checkpointed) and is reused
  * by every iteration and by scoring.
  */
object QualityClassifier {

  /** `weights(f)` for hashed token features `f < 1<<dimBits`, then the
    * [[structuralNames]] dense features, then the bias.
    */
  final case class Model(dimBits: Int, weights: Array[Double]) {
    def dim: Int = 1 << dimBits
    require(weights.length == dim + structuralNames.length + 1,
      s"model shape ${weights.length} != $dim + ${structuralNames.length} + 1")
  }

  /** Dense structural features appended after the hashed vocabulary:
    * the Gopher-style signals a normalized bag-of-words cannot carry
    * (document LENGTH above all). Each is squashed to O(1) range so
    * one learning rate fits all coordinates.
    */
  val structuralNames: Seq[String] =
    Seq("log_words", "mean_word_len", "symbol_ratio", "alpha_ratio",
      "stop_hits", "bullet_ratio")

  private def structuralCols(textCol: Column): Seq[Column] = {
    import graft.functions.TextOps
    Seq(
      log(TextOps.wordCount(textCol) + 1) / 10.0,
      TextOps.meanWordLen(textCol) / 10.0,
      TextOps.symbolRatio(textCol),
      TextOps.alphaWordRatio(textCol),
      TextOps.stopwordHits(textCol).cast("double") / 20.0,
      TextOps.bulletLineRatio(textCol))
  }

  /** Sparse feature rows (id, f, x): hashed token features are
    * L1-normalized term frequencies (`cnt/n_tok` on the hashed-bucket
    * key, so collisions merge counts BEFORE normalizing — the hashing
    * trick); dense structural features occupy ids `dim..dim+5`. One
    * tokenize pass; the explode emits slim rows that partial-agg
    * map-side on (id, f).
    */
  def features(df: DataFrame, idCol: String, textCol: String,
      dimBits: Int): DataFrame = {
    val dim = 1 << dimBits
    val toks = filter(split(lower(trim(col(textCol))), "[ \\t\\n\\f\\r]+"),
      t => length(t) > 0)
    val tokRows = df
      .select(col(idCol).as("id"), explode(toks).as("tok"))
      .select(col("id"), pmod(xxhash64(col("tok")), lit(dim.toLong)).as("f"))
      .groupBy("id", "f").agg(count(lit(1)).as("cnt"))
    val nTok = tokRows.groupBy("id").agg(sum("cnt").as("__n"))
    val hashed = tokRows.join(nTok, "id")
      .select(col("id"), col("f"),
        (col("cnt").cast("double") / col("__n")).as("x"))
    val dense = df.select(col(idCol).as("id"),
      posexplode(array(structuralCols(col(textCol)): _*)).as(Seq("sd", "x")))
      .select(col("id"), (col("sd") + dim).cast("long").as("f"), col("x"))
    hashed.unionByName(dense)
  }

  /** Lifetime count of [[train]] invocations in this JVM — the
    * train-once/serve-many observability hook, mirroring
    * [[PqSearch.trainInvocations]].
    */
  val trainInvocations = new java.util.concurrent.atomic.AtomicLong(0)

  private val modelCache = new ModelCache[Model]()

  /** Train-once/serve-many model for the (corpus, labeling) identified
    * by `tag` ([[ModelCache.trainOnce]]): at most one training run per
    * JVM per key. The tag MUST identify the label column's definition
    * too (a model is a function of corpus AND labels).
    */
  def cachedModel(df: DataFrame, idCol: String, textCol: String,
      label: Column, tag: String, dimBits: Int = 12, iters: Int = 30,
      lr: Double = 4.0, persist: Boolean = true): Model =
    modelCache.trainOnce(df.sparkSession,
      s"qc_model_${tag}_b${dimBits}_i${iters}_lr$lr", persist, saveModel, loadModel)(
      train(df, idCol, textCol, label, dimBits, iters, lr))

  /** Persist as (f, w) parquet rows — the model is an offline artifact
    * like the PQ codebooks; dimBits is derived back from the row count
    * on load, never trusted from parameters.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, path: String,
      m: Model): Unit = {
    import spark.implicits._
    m.weights.zipWithIndex.map { case (wv, f) => (f, wv) }.toSeq
      .toDF("f", "w").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Model = {
    val rows = spark.read.parquet(path).collect()
    require(rows.nonEmpty, s"loadModel: no model at $path")
    val nw = rows.map(_.getInt(0)).max + 1
    val dim = nw - structuralNames.length - 1
    require(dim > 0 && Integer.bitCount(dim) == 1,
      s"loadModel: corrupt model shape at $path ($nw weights)")
    val w = new Array[Double](nw)
    rows.foreach(r => w(r.getInt(0)) = r.getDouble(1))
    Model(Integer.numberOfTrailingZeros(dim), w)
  }

  /** Full-batch logistic regression: `iters` rounds of
    * `w -= lr/n · Σ_d x_d (σ(w·x_d) − y_d)`. Labels come from `label`
    * (any boolean/0-1 column — the weak-supervision pattern trains on
    * [[graft.functions.TextOps.gopherPass]] and generalizes past it).
    * Deterministic: margins and gradients accumulate integer-scaled
    * longs; the per-round driver state is the dim+7 weight vector.
    */
  def train(df: DataFrame, idCol: String, textCol: String, label: Column,
      dimBits: Int = 12, iters: Int = 30, lr: Double = 4.0): Model = {
    trainInvocations.incrementAndGet()
    val spark = df.sparkSession
    import spark.implicits._
    val dim = 1 << dimBits
    val nFeat = dim + structuralNames.length
    val scale = 1e9
    val feats = features(df, idCol, textCol, dimBits).localCheckpoint(false)
    val labels = df.select(col(idCol).as("id"),
      label.cast("double").as("y")).localCheckpoint(false)
    val n = labels.count()
    require(n > 0, "train: empty corpus")
    val w = new Array[Double](nFeat + 1)
    (1 to iters).foreach { _ =>
      val wDf = broadcast(
        w.take(nFeat).zipWithIndex.map { case (wv, f) => (f.toLong, wv) }
          .toSeq.toDF("f", "w"))
      val bias = w(nFeat)
      // per-doc error: err = sigmoid(margin + bias) - y; margin sums are
      // integer-scaled for partition-order independence
      val err = feats.join(wDf, "f")
        .groupBy("id")
        .agg((sum(round(col("x") * col("w") * scale).cast("long")) / scale)
          .as("__m"))
        .join(labels, "id")
        .select(col("id"),
          (lit(1.0) / (lit(1.0) + exp(-(col("__m") + bias))) - col("y"))
            .as("err"))
      // per-feature gradient (the bias rides as feature nFeat with x=1)
      val grad = feats
        .unionByName(labels.select(col("id"), lit(nFeat.toLong).as("f"),
          lit(1.0).as("x")))
        .join(err, "id")
        .groupBy("f")
        .agg((sum(round(col("x") * col("err") * scale).cast("long")) / scale)
          .as("g"))
        .collect()
      grad.foreach { r =>
        val f = r.getLong(0).toInt
        w(f) -= lr / n * r.getDouble(1)
      }
    }
    Model(dimBits, w)
  }

  /** Score (id, score): `σ(w·x + b)`, margins integer-scaled like
    * training so the score is partition-order independent. The model
    * rides in as a dim-sized broadcast join — no per-row UDF closure
    * over a captured array.
    */
  def score(df: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nFeat = model.dim + structuralNames.length
    val scale = 1e9
    val wDf = broadcast(
      model.weights.take(nFeat).zipWithIndex
        .map { case (wv, f) => (f.toLong, wv) }.toSeq.toDF("f", "w"))
    val bias = model.weights(nFeat)
    features(df, idCol, textCol, model.dimBits)
      .join(wDf, "f")
      .groupBy("id")
      .agg((sum(round(col("x") * col("w") * scale).cast("long")) / scale)
        .as("__m"))
      .select(col("id"),
        (lit(1.0) / (lit(1.0) + exp(-(col("__m") + bias)))).as("score"))
  }

  /** Ranking quality of a score column against boolean labels: the
    * Mann-Whitney AUC, computed from per-distinct-score positive/
    * negative counts — ties get the standard half credit. The window
    * runs over the DISTINCT-SCORE table (bounded by the score's value
    * set, far below corpus size), never over corpus rows; at 100 TB
    * round the score first if its value set is genuinely unbounded.
    * Returns one row (n_pos, n_neg, auc).
    */
  def auc(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val perScore = scored.groupBy(col(scoreCol).as("s"))
      .agg(sum(col(labelCol).cast("double")).as("np"),
        sum(lit(1.0) - col(labelCol).cast("double")).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("s").rowsBetween(Long.MinValue, -1)
    perScore
      .withColumn("below_nn", coalesce(sum(col("nn")).over(w), lit(0.0)))
      .agg(sum(col("np")).cast("long").as("n_pos"),
        sum(col("nn")).cast("long").as("n_neg"),
        (sum(col("np") * (col("below_nn") + col("nn") / 2)) /
          (sum(col("np")) * sum(col("nn")))).as("auc"))
  }
}
