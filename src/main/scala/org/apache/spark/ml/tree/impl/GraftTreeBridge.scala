package org.apache.spark.ml.tree.impl

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.impl.Utils
import org.apache.spark.ml.linalg.{Vector, VectorUDT, Vectors}
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, DecisionTreeModelReadWrite, InternalNode,
  LeafNode, Node, Split, TreeConfig}
import org.apache.spark.ml.tree.DecisionTreeModelReadWrite.{NodeData, SplitData}
import org.apache.spark.ml.util.{DatasetUtils, DefaultParamsReader, DefaultParamsWriter, MetadataUtils}
import org.apache.spark.mllib.tree.configuration.Strategy
import org.apache.spark.mllib.tree.impurity.VarianceCalculator
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.collection.OpenHashMap
import org.apache.spark.util.random.{BernoulliSampler, XORShiftRandom}
import org.json4s.{DefaultFormats, Formats, JInt, JObject}

/** Bridge exposing the package-private pieces of MLlib's tree learner
  * (its metadata, split candidates, binning, level-wise fit and node
  * constructors) to graft's one-scan tree fit, the same-package pattern as
  * `GraftColumnBridge`. Every step here is the one
  * `DecisionTreeRegressor.fit` takes, called with the same arguments or
  * drawing the same rows, so the splits and binning a caller sees are
  * the ones MLlib's fit would use. */
object GraftTreeBridge {

  /** MLlib's `Utils.EPSILON`: a child whose impurity is below it is
    * made a leaf without evaluating splits. */
  val Epsilon: Double = Utils.EPSILON

  /** A fit input: the `Instance` rows `DecisionTreeRegressor.train`
    * builds, and MLlib's metadata for them. */
  final class Input private[GraftTreeBridge] (instances: RDD[Instance], strategy: Strategy,
                                              metadata: DecisionTreeMetadata, seed: Long) {

    val numFeatures: Int = metadata.numFeatures

    /** Each feature's arity, 0 for a continuous feature. */
    val arity: Array[Int] = Array.tabulate(numFeatures)(f => metadata.featureArity.getOrElse(f, 0))

    private val continuous = arity.indices.filter(metadata.isContinuous).toArray

    /** One pass over the rows. Each partition folds its rows, as (label,
      * features), into a fresh `zero()` with `add`, and from the same
      * rows draws the sample `RandomForest.findSplits` draws with the
      * estimator's seed: `RDD.sample`'s `BernoulliSampler`, seeded per
      * partition as `PartitionwiseSampledRDD` seeds it, asked once per
      * row in order, at `samplesFractionForFindSplits`' fraction (every
      * row at 1; none without a continuous feature). The partial results
      * are merged in one `treeAggregate` job whose last merges run on the
      * driver as the results arrive, so a few partitions write no
      * shuffle. Returns the merged fold and the splits `findSplits`
      * returns for this sample, found on the driver as
      * `findSplitsBySorting` finds them (which also sets each continuous
      * feature's bin count in the metadata). */
    def scan[C](zero: () => C, add: (C, Double, Vector) => C,
                merge: (C, C) => C): (C, Array[Array[Split]]) = {
      val requiredSamples = math.max(metadata.maxBins * metadata.maxBins, 10000)
      val fraction =
        if (requiredSamples < metadata.numExamples) requiredSamples.toDouble / metadata.numExamples
        else 1.0
      val seeds = {
        val random = new java.util.Random(new XORShiftRandom(seed).nextInt())
        Array.fill(instances.getNumPartitions)(random.nextLong())
      }
      val features = continuous
      val newSample = (partitionSeed: Option[Long]) => new SplitSample(features,
        partitionSeed.filter(_ => fraction < 1).map { s =>
          val sampler = new BernoulliSampler[Instance](fraction)
          sampler.setSeed(s)
          sampler
        }.orNull)
      val both = (a: (C, SplitSample), b: (C, SplitSample)) => (merge(a._1, b._1), a._2.merge(b._2))
      val (folded, sample) = instances.mapPartitionsWithIndex { (i, rows) =>
        val sample = newSample(Some(seeds(i)))
        var acc = zero()
        rows.foreach { row =>
          sample.add(row)
          acc = add(acc, row.label, row.features)
        }
        Iterator.single((acc, sample))
      }.treeAggregate((zero(), newSample(None)))(both, both)
      (folded, splits(sample))
    }

    private def splits(sample: SplitSample): Array[Array[Split]] = Array.tabulate(numFeatures) { f =>
      if (metadata.isContinuous(f)) {
        val j = continuous.indexOf(f)
        // a feature with no non-zero sampled value gets no split
        val splits: Array[Split] =
          if (sample.counts(j) == 0) Array.empty
          else RandomForest.findSplitsForContinuousFeature(sample.values(j).toMap, sample.counts(j),
            metadata, f).map(t => new ContinuousSplit(f, t))
        metadata.setNumSplits(f, splits.length)
        splits
      } else {
        // ordered, as every categorical feature of a regression is:
        // its splits are built while the tree grows
        require(!metadata.isUnordered(f), s"feature $f: unordered categorical features are not supported")
        Array.empty[Split]
      }
    }

    /** The bins `TreePoint.convertToTreeRDD` gives a row with these
      * feature values, and its error for a categorical value outside
      * the feature's arity. */
    def binner(splits: Array[Array[Split]]): Array[Double] => Array[Int] = {
      val thresholds = splits.map(_.map(_.asInstanceOf[ContinuousSplit].threshold))
      values => Array.tabulate(numFeatures) { f =>
        val v = values(f)
        if (arity(f) == 0) {
          val idx = java.util.Arrays.binarySearch(thresholds(f), v)
          if (idx >= 0) idx else -idx - 1
        } else {
          if (v < 0 || v >= arity(f)) throw new IllegalArgumentException(
            s"DecisionTree given invalid data: Feature $f is categorical with values in" +
              s" {0,...,${arity(f) - 1}, but a data point gives it value $v.\n" +
              s"  Bad data point features: ${Vectors.dense(values)}")
          v.toInt
        }
      }
    }

    /** The model `dt.fit` returns for these rows: MLlib's level-wise fit
      * on the rows binned with `splits`, as `RandomForest.run` calls it
      * for one tree after the metadata and split jobs this input has
      * already run. */
    def fit(dt: DecisionTreeRegressor, splits: Array[Array[Split]]): DecisionTreeRegressionModel = {
      val points = TreePoint.convertToTreeRDD(instances, splits, metadata)
      val bcSplits = points.sparkContext.broadcast(splits)
      val bagged = BaggedPoint.convertToBaggedRDD(points, strategy.subsamplingRate, numSubsamples = 1,
        strategy.bootstrap, (p: TreePoint) => p.weight, dt.getSeed)
        .persist(StorageLevel.MEMORY_AND_DISK).setName("bagged tree points")
      try {
        val tree = RandomForest.runBagged(bagged, metadata, bcSplits, strategy, numTrees = 1,
          featureSubsetStrategy = "all", dt.getSeed, instr = None, prune = true,
          parentUID = Some(dt.uid), TreeConfig.trainingEarlyStopModelSizeThresholdInBytes)
        model(dt, tree.head.rootNode, numFeatures)
      } finally {
        bagged.unpersist()
        bcSplits.destroy()
      }
    }
  }

  /** Per feature, the non-zero values of the sampled rows with their
    * summed weights and their count: what `findSplitsBySorting`'s
    * `aggregateByKey` gathers. A null `sampler` takes every row. */
  private final class SplitSample(features: Array[Int], rowSampler: BernoulliSampler[Instance])
    extends Serializable {
    @transient private val sampler = rowSampler
    val values: Array[OpenHashMap[Double, Double]] = features.map(_ => new OpenHashMap[Double, Double])
    val counts = new Array[Long](features.length)

    def add(row: Instance): Unit =
      if (sampler == null || sampler.sample() > 0) {
        var j = 0
        while (j < features.length) {
          val v = row.features(features(j))
          if (v != 0.0) {
            values(j).changeValue(v, row.weight, _ + row.weight)
            counts(j) += 1
          }
          j += 1
        }
      }

    def merge(other: SplitSample): SplitSample = {
      var j = 0
      while (j < features.length) {
        val m = values(j)
        other.values(j).foreach { case (v, w) => m.changeValue(v, w, _ + w) }
        counts(j) += other.counts(j)
        j += 1
      }
      this
    }
  }

  /** Validates `dataset` as `dt.fit` does, builds the `Instance` RDD
    * `DecisionTreeRegressor.train` builds (with its label, weight and
    * vector checks), and runs `DecisionTreeMetadata.buildMetadata`
    * with the estimator's strategy. The label and weight checks are
    * MLlib's Catalyst expressions. The vectors are read from the
    * internal rows and checked as they are built, with the messages of
    * MLlib's `checkNonNanVectors`, whose Catalyst form would cost each
    * row a `Row` conversion and an interpreted `exists`. The metadata reads
    * only the row count and the vector size, so when the features
    * column's `AttributeGroup` gives that size it runs over label-only
    * rows carrying one shared empty vector of it, and Catalyst prunes
    * the feature columns and their assembly out of those two jobs. The
    * `Instance` rows are lazy. */
  def input(dt: DecisionTreeRegressor, dataset: Dataset[_]): Input = {
    dt.transformSchema(dataset.schema)
    val featuresField = dataset.schema(dt.getFeaturesCol)
    val label = DatasetUtils.checkRegressionLabels(dt.getLabelCol)
    val weight = DatasetUtils.checkNonNegativeWeights(dt.get(dt.weightCol))
    val udt = new VectorUDT
    val instances = dataset.select(label, weight, col(dt.getFeaturesCol)).queryExecution.toRdd.map { row =>
      if (row.isNullAt(2)) throw new IllegalArgumentException("Vectors MUST NOT be Null")
      val v = udt.deserialize(row.getStruct(2, 4))
      v.foreachActive { (_, x) =>
        if (!java.lang.Double.isFinite(x)) throw new IllegalArgumentException(
          s"Vector values MUST NOT be NaN or Infinity, but got $v")
      }
      Instance(row.getDouble(0), row.getDouble(1), v)
    }
    val size = AttributeGroup.fromStructField(featuresField).size
    val labels =
      if (size < 0) instances
      else {
        val empty = Vectors.sparse(size, Array.emptyIntArray, Array.emptyDoubleArray)
        dataset.select(label, weight).rdd.map { case Row(l: Double, w: Double) => Instance(l, w, empty) }
      }
    val strategy = dt.getOldStrategy(MetadataUtils.getCategoricalFeatures(featuresField))
    val metadata = DecisionTreeMetadata.buildMetadata(labels, strategy, numTrees = 1,
      featureSubsetStrategy = "all")
    val numFeatures = metadata.numFeatures
    new Input(instances.map { row =>
      require(row.features.size == numFeatures,
        s"a features vector has size ${row.features.size}, but its column's metadata says $numFeatures")
      row
    }, strategy, metadata, dt.getSeed)
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

  /** The schema `DecisionTreeRegressionModel`'s writer derives from
    * MLlib's `NodeData`. */
  private[tree] val NodeDataSchema: StructType = {
    val doubles = ArrayType(DoubleType, containsNull = false)
    def field(name: String, t: DataType) = StructField(name, t, nullable = false)
    StructType(Seq(field("id", IntegerType), field("prediction", DoubleType), field("impurity", DoubleType),
      StructField("impurityStats", doubles), field("rawCount", LongType), field("gain", DoubleType),
      field("leftChild", IntegerType), field("rightChild", IntegerType),
      StructField("split", StructType(Seq(field("featureIndex", IntegerType),
        StructField("leftCategoriesOrThreshold", doubles), field("numCategories", IntegerType))))))
  }

  /** Writes `model` to `path` in the layout of MLlib's
    * `model.write.overwrite().save(path)`, replacing what is there: the
    * metadata JSON as `metadata/part-00000`, written through the
    * file system, and the node rows as parquet under `data`, in one job
    * with no shuffle (MLlib's writer runs a text write, then a
    * `repartition` and a parquet write through a `TypeTag` encoder). */
  def save(spark: SparkSession, model: DecisionTreeRegressionModel, path: String): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(dir, true)
    val metadata = new Path(dir, "metadata")
    val json = DefaultParamsWriter.getMetadataToSave(model, spark,
      Some(JObject("numFeatures" -> JInt(model.numFeatures))))
    val out = fs.create(new Path(metadata, "part-00000"))
    try out.write((json + "\n").getBytes(UTF_8)) finally out.close()
    fs.create(new Path(metadata, "_SUCCESS")).close()
    val rows = NodeData.build(model.rootNode, 0)._1.map { n =>
      Row(n.id, n.prediction, n.impurity, n.impurityStats, n.rawCount, n.gain, n.leftChild, n.rightChild,
        Row(n.split.featureIndex, n.split.leftCategoriesOrThreshold, n.split.numCategories))
    }
    spark.createDataFrame(rows.asJava, NodeDataSchema).coalesce(NodeData.inferNumPartitions(model.numNodes))
      .write.parquet(new Path(dir, "data").toString)
  }

  /** Reads a model in MLlib's layout, as `DecisionTreeRegressionModel.load`
    * does: the metadata from the first non-hidden file under `metadata`
    * through the file system, then the node rows under `data` in one
    * job, with the schema given so none is inferred. Fails on the node
    * data of Spark before 3.0, which has no `rawCount`. */
  def load(spark: SparkSession, path: String): DecisionTreeRegressionModel = {
    implicit val formats: Formats = DefaultFormats
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val file = fs.listStatus(new Path(dir, "metadata")).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith(".")).minBy(_.getName)
    val reader = new BufferedReader(new InputStreamReader(fs.open(file), UTF_8))
    val metadata = try DefaultParamsReader.parseMetadata(reader.readLine(),
      classOf[DecisionTreeRegressionModel].getName) finally reader.close()
    val nodes = spark.read.schema(NodeDataSchema).parquet(new Path(dir, "data").toString).collect().map { r =>
      require(!r.isNullAt(4), s"The model at $path was saved by Spark ${metadata.sparkVersion}, " +
        "whose tree node data has no rawCount column; it needs Spark 3.0 or later.")
      val s = r.getStruct(8)
      NodeData(r.getInt(0), r.getDouble(1), r.getDouble(2), r.getSeq[Double](3).toArray, r.getLong(4),
        r.getDouble(5), r.getInt(6), r.getInt(7),
        SplitData(s.getInt(0), s.getSeq[Double](1).toArray, s.getInt(2)))
    }
    val root = DecisionTreeModelReadWrite.buildTreeFromNodes(nodes,
      metadata.getParamValue("impurity").extract[String])
    val numFeatures = (metadata.metadata \ "numFeatures").extract[Int]
    val model = new DecisionTreeRegressionModel(metadata.uid, root, numFeatures)
    metadata.getAndSetParams(model)
    model
  }
}
