package graft.ml

import scala.collection.immutable.ArraySeq

import org.apache.spark.ml.attribute.NumericAttribute
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.ml.tree.impl.GraftTreeBridge
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
  * Training has two branches ([[trainAssembled]]). Both start with
  * MLlib's own metadata and split candidates. The rows are then
  * reduced in one distributed aggregate to (count, Σy, Σy²) per
  * distinct bin tuple, a "cell"; cells ≤ min(rows, ∏ bins per
  * feature). While the cells fit a fixed heap budget ([[Cells]], 16 MB:
  * 119,837 cells at one feature, 31,300 at 100) the tree is grown on
  * the driver from them, at a cost per cell, not per row. Past it (at
  * 100 TB with several continuous features, say) each task stops
  * reading its rows and MLlib's level-wise fit runs: one distributed
  * pass per level, its memory maxBins × features × nodes per level,
  * not data size.
  */
object DecisionTree {

  val DefaultMaxDepth = 10
  val DefaultMaxBins = 100
  private val Impurity = "variance"

  /** Drop null-label rows, assemble null-safe sparse features, fit,
    * save. Returns the fitted model (also persisted at `modelPath`). */
  def train(df: DataFrame, spec: FeatureSpec, modelPath: String,
            maxDepth: Int = DefaultMaxDepth, maxBins: Int = DefaultMaxBins): DecisionTreeRegressionModel = {
    spec.validateLabel(df.schema)
    // Note: no .cache() on the assembled frame: the fit reads it in
    // four jobs (MLlib's first row, count and split sample, then the
    // cell aggregate), and a DataFrame-level persist added
    // materialization cost (measured +0.6 s at sf0.1 under MLlib's
    // level-wise fit, which caches its own binned points).
    trainAssembled(FeatureVectorizer.assemble(
      df.filter(col(spec.labelField).isNotNull), spec), spec, modelPath, maxDepth, maxBins)
  }

  /** Fit + save over an ALREADY-assembled frame (the null-label drop
    * is applied here; assembly is row-preserving, so filtering before
    * or after it is equivalent).
    *
    * The fit takes MLlib's own metadata and split candidates for the
    * input (the jobs `DecisionTreeRegressor.fit` starts with, with its
    * seed 42), bins the rows as MLlib does, and reduces them in ONE
    * aggregate job to (count, Σy, Σy²) per distinct bin tuple ("cell").
    * A variance-impurity tree needs nothing else from its rows, so when
    * the cells fit [[Cells.limit]] for the feature count the tree is
    * grown on the driver from them ([[CellTree]]), with MLlib's splits,
    * gain rule, tie order and pruning, instead of MLlib's one pass over
    * every row per level. Past the limit a task stops reading its rows,
    * and MLlib's level-wise fit runs on the same metadata and splits
    * (`RandomForest.runBagged`, what `DecisionTreeRegressor.fit` runs
    * after those jobs), so it does not repeat them. The branch taken, with the cell count and the limit, is
    * the Spark job description of the jobs that follow the decision
    * (the fit's rest and the save). */
  def trainAssembled(assembled: DataFrame, spec0: FeatureSpec, modelPath: String,
                     maxDepth: Int = DefaultMaxDepth,
                     maxBins: Int = DefaultMaxBins): DecisionTreeRegressionModel =
    trainWithCellLimit(assembled, spec0, modelPath, maxDepth, maxBins, Cells.limit)

  /** [[trainAssembled]] with the cell limit given as a function of the
    * feature count. */
  private[graft] def trainWithCellLimit(assembled: DataFrame, spec0: FeatureSpec, modelPath: String,
                                        maxDepth: Int, maxBins: Int,
                                        maxCells: Int => Int): DecisionTreeRegressionModel = {
    val spec = spec0.sanitized
    val prepared = assembled.filter(col(spec.sanitizedLabel).isNotNull)
    val dt = new DecisionTreeRegressor()
      .setImpurity(Impurity)
      .setMaxDepth(maxDepth)
      .setMaxBins(maxBins)
      .setFeaturesCol(FeatureVectorizer.FeaturesCol)
      // `prepared` carries sanitized (hyphen→underscore) column names
      .setLabelCol(spec.sanitizedLabel)
      .setSeed(42L)
    val binned = GraftTreeBridge.bin(dt, prepared)
    val numFeatures = binned.arity.length
    val limit = maxCells(numFeatures)
    val merge = (a: Cells, b: Cells) => a.merge(b)
    val cells = binned.rows.mapPartitions { rows =>
      val t = new Cells(limit)
      while (!t.overflow && rows.hasNext) {
        val (key, y) = rows.next()
        t.add(new ArraySeq.ofInt(key), 1.0, y, y * y)
      }
      Iterator.single(t)
    }.treeAggregate(new Cells(limit), merge, merge, depth = 2, finalAggregateOnExecutor = true)
    val sc = prepared.sparkSession.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(
      if (cells.overflow) s"DecisionTree fit: branch=mllib cells>$limit limit=$limit"
      else s"DecisionTree fit: branch=driver cells=${cells.size} limit=$limit")
    try {
      val model =
        if (cells.overflow) binned.fit(dt)
        else GraftTreeBridge.model(dt,
          CellTree.grow(cells, binned.splits, binned.arity, maxDepth), numFeatures)
      model.write.overwrite().save(modelPath)
      model
    } finally sc.setJobDescription(description)
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
