package graft.ml

import org.apache.spark.ml.attribute.NumericAttribute
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Decision-tree regression train + predict, the Spark-ML (DataFrame)
  * re-expression of the reference plugin pair:
  *
  *  - trainer (/root/reference/.../DecisionTreeTrainer.java:52-59):
  *    impurity fixed to "variance", maxDepth default 10, maxBins
  *    default 100, categorical features via the cardinality mapping,
  *    rows with null label dropped (SparkMLTrainer.java:119-127),
  *    model persisted to a path;
  *  - predictor (/root/reference/.../SparkMLPredictor.java:125-157):
  *    loads the model, scores every record, appends the prediction as
  *    a double column, preserving all input columns. Scoring walks a
  *    flattened copy of the tree in a codegen'd expression
  *    ([[TreePredict]]) instead of MLlib's assemble-then-transform; a
  *    null feature reads as 0.0 there, as its absent slot does in
  *    MLlib, and predictions are bit-identical.
  *
  * Training is inherently a collect-to-driver-of-statistics operation;
  * Spark ML's tree learner aggregates split statistics distributed
  * (map-side partial aggregation over instances), so it scales with
  * rows — at 100 TB the caveat is maxBins × features × nodes driver
  * memory, not data size.
  */
object DecisionTree {

  val DefaultMaxDepth = 10
  val DefaultMaxBins = 100
  private val Impurity = "variance"

  /** Drop null-label rows, assemble null-safe sparse features, fit,
    * save. Returns the fitted model (also persisted at `modelPath`).
    * `fitPartitions` as in [[trainAssembled]]. */
  def train(df: DataFrame, spec: FeatureSpec, modelPath: String,
            maxDepth: Int = DefaultMaxDepth, maxBins: Int = DefaultMaxBins,
            fitPartitions: Int = 0): DecisionTreeRegressionModel = {
    spec.validateLabel(df.schema)
    // Note: no .cache() on the assembled frame — the tree learner
    // immediately converts it to its own cached internal point RDD,
    // so a DataFrame-level persist only adds materialization cost
    // (measured +0.6 s at sf0.1).
    trainAssembled(FeatureVectorizer.assemble(
      df.filter(col(spec.labelField).isNotNull), spec), spec, modelPath, maxDepth, maxBins,
      fitPartitions)
  }

  /** Fit + save over an ALREADY-assembled frame (the null-label drop
    * is applied here; assembly is row-preserving, so filtering before
    * or after it is equivalent).
    *
    * `fitPartitions` (0 = off) fans the fit input out when it arrives
    * with fewer partitions: MLlib's level-wise tree training runs one
    * treeAggregate pass per level, so an under-partitioned input (a
    * single parquet split) serializes every pass on one task —
    * measured 2× on 600k rows arriving as one file, shuffle included.
    * Opt-in, because repartitioning changes the split-candidate
    * sample and thus (slightly) the learned tree: callers that pin
    * exact reference predictions (the flight spec) leave it off; the
    * invariant-checked pipeline queries turn it on. A cluster-scale
    * input already carries enough partitions and is left untouched
    * either way. */
  def trainAssembled(assembled: DataFrame, spec0: FeatureSpec, modelPath: String,
                     maxDepth: Int = DefaultMaxDepth, maxBins: Int = DefaultMaxBins,
                     fitPartitions: Int = 0): DecisionTreeRegressionModel = {
    val spec = spec0.sanitized
    val prepared0 = assembled.filter(col(spec.sanitizedLabel).isNotNull)
    val prepared =
      if (fitPartitions > 0 && prepared0.rdd.getNumPartitions < fitPartitions)
        prepared0.repartition(fitPartitions)
      else prepared0
    val dt = new DecisionTreeRegressor()
      .setImpurity(Impurity)
      .setMaxDepth(maxDepth)
      .setMaxBins(maxBins)
      .setFeaturesCol(FeatureVectorizer.FeaturesCol)
      // `prepared` carries sanitized (hyphen→underscore) column names
      .setLabelCol(spec.sanitizedLabel)
      .setSeed(42L)
    val model = dt.fit(prepared)
    model.write.overwrite().save(modelPath)
    model
  }

  def load(spark: org.apache.spark.sql.SparkSession, modelPath: String): DecisionTreeRegressionModel =
    DecisionTreeRegressionModel.read.session(spark).load(modelPath)

  /** Score `df` with a fitted/loaded model: the (sanitized) input
    * columns plus `predictionField`, a double column carrying the
    * metadata MLlib's `transform` gives it. The tree is flattened once
    * per call ([[FlatTree]]) and walked per row by the codegen'd
    * [[TreePredict]] expression over the spec's feature columns, so no
    * vector is assembled and no model object ships with the tasks. A
    * null feature reads as 0.0, as its absent sparse slot does in
    * MLlib, and predictions equal `model.transform(assemble(df, spec))`
    * bit for bit. `model` is never modified, so concurrent calls may
    * share it. Map-only at any scale. */
  def predict(df0: DataFrame, model: DecisionTreeRegressionModel, spec: FeatureSpec,
              predictionField: String): DataFrame = {
    val df = FeatureVectorizer.sanitizeColumns(df0)
    val cols = spec.sanitized.featureColumns(df.schema)
    require(cols.length == model.numFeatures,
      s"The model was trained on ${model.numFeatures} features, but the spec selects " +
        s"${cols.length}: ${cols.mkString(", ")}.")
    val tree = TreePredict(FeatureVectorizer.doubles(cols), FlatTree(model.rootNode))
    df.withColumn(predictionField, GraftColumnBridge.column(tree)
      .as(predictionField, NumericAttribute.defaultAttr.toMetadata()))
  }

  /** Regression metrics for a scored frame — two distributed
    * aggregates (label mean, then error sums): RMSE, MAE, R². */
  def evaluate(scored: DataFrame, labelField: String, predictionField: String): (Double, Double, Double) = {
    val f = scored.filter(col(labelField).isNotNull)
    val meanLabel = f.agg(avg(col(labelField))).collect().head.getDouble(0)
    val row = f.agg(
      sqrt(avg(pow(col(predictionField) - col(labelField), 2))).as("rmse"),
      avg(abs(col(predictionField) - col(labelField))).as("mae"),
      (lit(1.0) - sum(pow(col(predictionField) - col(labelField), 2)) /
        sum(pow(col(labelField) - lit(meanLabel), 2))).as("r2"))
      .collect().head
    (row.getDouble(0), row.getDouble(1), row.getDouble(2))
  }
}
