package org.apache.spark.ml.tree.impl

import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.impl.Utils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.ml.tree.{CategoricalSplit, InternalNode, LeafNode, Node, Split, TreeConfig}
import org.apache.spark.ml.util.{DatasetUtils, MetadataUtils}
import org.apache.spark.mllib.tree.configuration.Strategy
import org.apache.spark.mllib.tree.impurity.VarianceCalculator
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.storage.StorageLevel

/** Bridge exposing the package-private pieces of MLlib's tree learner
  * (its metadata, split candidates, binning, level-wise fit and node
  * constructors) to graft's one-scan tree fit, the same-package pattern as
  * `GraftColumnBridge`. Every step here is the one
  * `DecisionTreeRegressor.fit` takes, called with the same arguments,
  * so the binning a caller sees is the binning MLlib's fit would use. */
object GraftTreeBridge {

  /** MLlib's `Utils.EPSILON`: a child whose impurity is below it is
    * made a leaf without evaluating splits. */
  val Epsilon: Double = Utils.EPSILON

  /** A fit input as MLlib bins it, with the metadata and split
    * candidates (`splits`, empty for a categorical feature) MLlib's fit
    * computes for it. */
  final class Binned private[GraftTreeBridge] (points: RDD[TreePoint], strategy: Strategy,
                                               metadata: DecisionTreeMetadata,
                                               val splits: Array[Array[Split]]) {

    /** Each feature's arity, 0 for a continuous feature. */
    val arity: Array[Int] =
      Array.tabulate(metadata.numFeatures)(f => metadata.featureArity.getOrElse(f, 0))

    /** Each row as (bin tuple, label); lazy. */
    def rows: RDD[(Array[Int], Double)] = points.map(p => (p.binnedFeatures, p.label))

    /** The model `dt.fit` returns for these rows: MLlib's level-wise fit
      * as `RandomForest.run` calls it for one tree, after the metadata
      * and split jobs this input has already run. */
    def fit(dt: DecisionTreeRegressor): DecisionTreeRegressionModel = {
      val bcSplits = points.sparkContext.broadcast(splits)
      val bagged = BaggedPoint.convertToBaggedRDD(points, strategy.subsamplingRate, numSubsamples = 1,
        strategy.bootstrap, (p: TreePoint) => p.weight, dt.getSeed)
        .persist(StorageLevel.MEMORY_AND_DISK).setName("bagged tree points")
      try {
        val tree = RandomForest.runBagged(bagged, metadata, bcSplits, strategy, numTrees = 1,
          featureSubsetStrategy = "all", dt.getSeed, instr = None, prune = true,
          parentUID = Some(dt.uid), TreeConfig.trainingEarlyStopModelSizeThresholdInBytes)
        model(dt, tree.head.rootNode, metadata.numFeatures)
      } finally {
        bagged.unpersist()
        bcSplits.destroy()
      }
    }
  }

  /** Validates `dataset` as `dt.fit` does, builds the `Instance` RDD
    * `DecisionTreeRegressor.train` builds (with its label, weight and
    * vector checks), then runs `DecisionTreeMetadata.buildMetadata`
    * and `RandomForest.findSplits` with the estimator's seed, and bins
    * the rows with `TreePoint.convertToTreeRDD`. Runs the metadata and
    * split-sampling jobs; the binned rows are lazy. */
  def bin(dt: DecisionTreeRegressor, dataset: Dataset[_]): Binned = {
    dt.transformSchema(dataset.schema)
    val categorical = MetadataUtils.getCategoricalFeatures(dataset.schema(dt.getFeaturesCol))
    val instances = dataset.select(
      DatasetUtils.checkRegressionLabels(dt.getLabelCol),
      DatasetUtils.checkNonNegativeWeights(dt.get(dt.weightCol)),
      DatasetUtils.checkNonNanVectors(dt.getFeaturesCol))
      .rdd.map { case Row(l: Double, w: Double, v: Vector) => Instance(l, w, v) }
    val strategy = dt.getOldStrategy(categorical)
    val metadata = DecisionTreeMetadata.buildMetadata(instances, strategy, numTrees = 1,
      featureSubsetStrategy = "all")
    val splits = RandomForest.findSplits(instances, metadata, dt.getSeed)
    new Binned(TreePoint.convertToTreeRDD(instances, splits, metadata), strategy, metadata, splits)
  }

  /** `stats` is VarianceCalculator's (count, Σy, Σy²) over unit-weight
    * rows, so its raw row count is `stats(0)`. */
  private def calculator(stats: Array[Double]) = new VarianceCalculator(stats, stats(0).toLong)

  def leaf(prediction: Double, impurity: Double, stats: Array[Double]): Node =
    new LeafNode(prediction, impurity, calculator(stats))

  def internal(prediction: Double, impurity: Double, gain: Double, left: Node, right: Node,
               split: Split, stats: Array[Double]): Node =
    new InternalNode(prediction, impurity, gain, left, right, split, calculator(stats))

  def categoricalSplit(feature: Int, leftCategories: Array[Double], numCategories: Int): Split =
    new CategoricalSplit(feature, leftCategories, numCategories)

  /** The model `dt.fit` returns for a tree with this root: the
    * estimator's uid, its explicitly set params and the estimator as
    * parent. */
  def model(dt: DecisionTreeRegressor, root: Node, numFeatures: Int): DecisionTreeRegressionModel = {
    val m = new DecisionTreeRegressionModel(dt.uid, root, numFeatures)
    dt.paramMap.toSeq.foreach { p =>
      if (m.hasParam(p.param.name)) m.set(m.getParam(p.param.name), p.value)
    }
    m.setParent(dt)
  }
}
