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
  *    model persisted to a path, in MLlib's on-disk layout with one
  *    Spark job;
  *  - predictor (/root/reference/.../SparkMLPredictor.java:125-157):
  *    loads the model ([[load]], one Spark job), scores every record,
  *    appends the prediction as a double column, preserving all input
  *    columns. Scoring walks a flattened copy of the tree in a
  *    codegen'd expression ([[TreePredict]]) instead of MLlib's
  *    assemble-then-transform; a
  *    null feature reads as 0.0 there, as its absent slot does in
  *    MLlib, and predictions are bit-identical.
  *
  * Training reads its assembled rows in one distributed aggregate
  * ([[trainAssembled]]). That scan draws MLlib's own split sample and
  * reduces the rows to (count, Σy, Σy²) per distinct feature tuple, a
  * "cell"; cells ≤ min(rows, distinct values per feature multiplied).
  * While the cells fit a fixed heap budget ([[Cells]], 16 MB: 116,508
  * cells at one feature, 17,924 at 100) the driver bins them with
  * MLlib's splits and grows the tree from them, at a cost per cell,
  * not per row. Past it (at 100 TB with several continuous features,
  * say) MLlib's level-wise fit runs on the same metadata and splits:
  * one distributed pass per level, its memory maxBins × features ×
  * nodes per level, not data size.
  */
object DecisionTree {

  val DefaultMaxDepth = 10
  val DefaultMaxBins = 100
  private val Impurity = "variance"

  /** Assemble null-safe sparse features, drop null-label rows, fit,
    * save ([[trainAssembled]]). Returns the fitted model (also persisted
    * at `modelPath`). */
  def train(df: DataFrame, spec: FeatureSpec, modelPath: String,
            maxDepth: Int = DefaultMaxDepth, maxBins: Int = DefaultMaxBins): DecisionTreeRegressionModel = {
    spec.validateLabel(df.schema)
    // Note: no .cache() on the assembled frame: the fit reads it in one
    // full scan (after MLlib's first-row and count jobs, which read the
    // label column only), and a DataFrame-level persist added
    // materialization cost (measured +0.6 s at sf0.1 under MLlib's
    // level-wise fit, which caches its own binned points).
    trainAssembled(FeatureVectorizer.assemble(df, spec), spec, modelPath, maxDepth, maxBins)
  }

  /** Fit + save over an ALREADY-assembled frame (the null-label drop
    * is applied here; assembly is row-preserving, so filtering before
    * or after it is equivalent).
    *
    * The fit builds MLlib's metadata for the input (the first-row and
    * count jobs `DecisionTreeRegressor.fit` starts with, here over the
    * label column only), then reads the rows in ONE aggregate job. That
    * job draws the rows MLlib's `findSplits` samples with its seed 42,
    * so the driver finds MLlib's split candidates from them, and reduces
    * the rows to (count, Σy, Σy²) per distinct raw feature tuple
    * ("cell"). A variance-impurity tree needs nothing else from its
    * rows, so when the cells fit [[Cells.limit]] for the feature count
    * the driver bins them as MLlib bins a row and grows the tree from
    * them ([[CellTree]]), with MLlib's splits, gain rule, tie order and
    * pruning, instead of MLlib's one pass over every row per level. Past
    * that limit MLlib's level-wise fit runs on the same metadata and
    * splits (`RandomForest.runBagged`, what `DecisionTreeRegressor.fit`
    * runs after those jobs). The branch taken (`driver` or `mllib`),
    * with the cell count and the limit, is the Spark job description of
    * the jobs that follow the decision (the fit's rest and the save,
    * whose one job writes the node rows: `GraftTreeBridge.save`). */
  def trainAssembled(assembled: DataFrame, spec0: FeatureSpec, modelPath: String,
                     maxDepth: Int = DefaultMaxDepth,
                     maxBins: Int = DefaultMaxBins): DecisionTreeRegressionModel =
    trainWithCellLimit(assembled, spec0, modelPath, maxDepth, maxBins, Cells.limit)

  /** [[trainAssembled]] with the cell limit given as a function of the
    * feature count. */
  private[graft] def trainWithCellLimit(assembled: DataFrame, spec0: FeatureSpec, modelPath: String,
                                        maxDepth: Int, maxBins: Int,
                                        cellLimit: Int => Int): DecisionTreeRegressionModel = {
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
    val input = GraftTreeBridge.input(dt, prepared)
    val numFeatures = input.numFeatures
    val limit = cellLimit(numFeatures)
    val (raw, splits) = input.scan[Cells[ArraySeq.ofLong]](() => new Cells(limit),
      (t, y, x) => {
        if (!t.overflow) {
          val key = new Array[Long](numFeatures)
          x.foreachActive((f, v) => key(f) = java.lang.Double.doubleToRawLongBits(v))
          t.add(new ArraySeq.ofLong(key), 1.0, y, y * y)
        }
        t
      },
      _ merge _)
    val sc = prepared.sparkSession.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    try {
      val model =
        if (!raw.overflow) {
          val bin = input.binner(splits)
          val cells = new Cells[ArraySeq.ofInt](raw.size)
          raw.foreach { (key, s) =>
            cells.add(new ArraySeq.ofInt(bin(key.unsafeArray.map(java.lang.Double.longBitsToDouble))),
              s(0), s(1), s(2))
          }
          sc.setJobDescription(s"DecisionTree fit: branch=driver cells=${raw.size} limit=$limit")
          GraftTreeBridge.model(dt, CellTree.grow(cells, splits, input.arity, maxDepth), numFeatures)
        } else {
          sc.setJobDescription(s"DecisionTree fit: branch=mllib cells>$limit limit=$limit")
          input.fit(dt, splits)
        }
      GraftTreeBridge.save(prepared.sparkSession, model, modelPath)
      model
    } finally sc.setJobDescription(description)
  }

  /** The model saved at `modelPath` by [[train]] or by MLlib's
    * `DecisionTreeRegressionModel` writer, read as MLlib's reader reads
    * it but in one job: the metadata through the file system, the node
    * rows with their schema given (`GraftTreeBridge.load`). */
  def load(spark: org.apache.spark.sql.SparkSession, modelPath: String): DecisionTreeRegressionModel =
    GraftTreeBridge.load(spark, modelPath)

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
