package org.apache.spark.ml.tree.impl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{FlightCsv, SparkSpec, Tables}
import graft.ml.{DecisionTree, FeatureSpec, FeatureVectorizer}
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.ml.tree.{InternalNode, LeafNode, Node, Split}
import org.apache.spark.ml.tree.DecisionTreeModelReadWrite.NodeData
import org.apache.spark.ml.util.MetadataUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** The bridge's one-scan split sample against MLlib's own `findSplits`,
  * and its model save and load against MLlib's writer and reader. */
class GraftTreeBridgeSpec extends SparkSpec {

  private def estimator(label: String): DecisionTreeRegressor =
    new DecisionTreeRegressor().setImpurity("variance").setMaxDepth(5).setMaxBins(100)
      .setFeaturesCol(FeatureVectorizer.FeaturesCol).setLabelCol(label).setSeed(42L)

  /** `rows` rows in 4 partitions: `wide` with 5,000 distinct values (so
    * its thresholds are quantiles of the sample), `few` with 20 and
    * zeros, `holes` null (an absent slot) in a third of the rows. */
  private def generated(rows: Int): DataFrame = {
    def h(salt: Int, mod: Int) = pmod(xxhash64(col("id"), lit(salt)), lit(mod.toLong))
    spark.range(0, rows, 1, 4).select(
      h(1, 5000).cast("double").as("wide"),
      (h(2, 20) - 5).cast("double").as("few"),
      when(col("id") % 3 === 0, lit(null)).otherwise(h(3, 700) * 0.5).as("holes"),
      (h(4, 1000) + col("id") % 7).cast("double").as("y"))
  }

  /** The fused scan's splits and row count, then MLlib's
    * `findSplits(instances, metadata, 42)` on a fresh metadata. */
  private def splitsOf(df: DataFrame, spec: FeatureSpec): (Array[Array[Split]], Array[Array[Split]], Long) = {
    val assembled = FeatureVectorizer.assemble(df, spec)
    val dt = estimator(spec.labelField)
    val (rows, splits) = GraftTreeBridge.input(dt, assembled)
      .scan[Long](() => 0L, (n, _, _) => n + 1, _ + _)
    val instances = assembled
      .select(col(spec.labelField).cast("double"), lit(1.0), col(FeatureVectorizer.FeaturesCol))
      .rdd.map { case Row(l: Double, w: Double, v: Vector) => Instance(l, w, v) }
    val strategy = dt.getOldStrategy(
      MetadataUtils.getCategoricalFeatures(assembled.schema(FeatureVectorizer.FeaturesCol)))
    val metadata = DecisionTreeMetadata.buildMetadata(instances, strategy, numTrees = 1,
      featureSubsetStrategy = "all")
    assert(metadata.numExamples == rows)
    (splits, RandomForest.findSplits(instances, metadata, 42L), rows)
  }

  private def assertSame(name: String, got: Array[Array[Split]], expected: Array[Array[Split]]): Unit = {
    assert(got.length == expected.length, name)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), f) =>
      assert(g.sameElements(e), s"$name, feature $f: ${g.length} vs ${e.length} splits")
    }
  }

  test("the fused scan's splits equal MLlib's findSplits") {
    val generatedSpec = FeatureSpec(include = Some(Seq("wide", "few", "holes")), labelField = "y")
    val frames = Seq(
      // 10,000 / 40,000 = 0.25: the sampler's gap sampling
      ("40,000 rows", generated(40000), generatedSpec),
      // 10,000 / 16,000 = 0.625: one draw per row
      ("16,000 rows", generated(16000), generatedSpec),
      // every row sampled
      ("10,000 rows", generated(10000), generatedSpec),
      ("flights, dofW categorical", FlightCsv.trainingFrame(spark), FlightCsv.trainSpec))
    frames.foreach { case (name, df, spec) =>
      val (got, expected, rows) = splitsOf(df, spec)
      info(s"$name: $rows rows, ${expected.map(_.length).mkString("/")} splits")
      assertSame(name, got, expected)
      assert(expected.exists(_.nonEmpty), name)
      // `wide`'s thresholds are quantiles of the rows sampled, far
      // fewer than its 5,000 values
      if (spec == generatedSpec) assert(expected(0).length > 90 && expected(0).length <= 100, name)
    }
  }

  test("null features are absent slots, left out of the sample as zeros") {
    val spec = FeatureSpec(include = Some(Seq("wide", "few", "holes")), labelField = "y")
    val df = generated(6000).withColumn("few", when(col("wide") < 2500, lit(null)).otherwise(col("few")))
      .withColumn("zeros", lit(null).cast("double"))
    val (got, expected, _) = splitsOf(df, spec.copy(include = Some(Seq("wide", "few", "holes", "zeros"))))
    assertSame("null features", got, expected)
    assert(expected(3).isEmpty, "a feature that is always null has no split")
  }

  private val lineitemSpec = FeatureSpec(
    include = Some(Seq("l_quantity", "l_discount", "l_tax")), labelField = "l_extendedprice")

  private def params(m: DecisionTreeRegressionModel): Map[String, (Any, Boolean)] =
    m.extractParamMap().toSeq.map(p => p.param.name -> (p.value, m.isSet(p.param))).toMap

  /** The same uid, feature count and params, and node by node the same
    * split, prediction, impurity, impurity stats, raw count and gain. */
  private def assertSameModel(name: String, got: DecisionTreeRegressionModel,
                              expected: DecisionTreeRegressionModel): Unit = {
    assert(got.uid == expected.uid && got.numFeatures == expected.numFeatures, name)
    assert(params(got) == params(expected), name)
    def same(a: Node, b: Node, path: String): Unit = {
      assert(a.prediction == b.prediction && a.impurity == b.impurity &&
        a.impurityStats.stats.sameElements(b.impurityStats.stats) &&
        a.impurityStats.rawCount == b.impurityStats.rawCount, s"$name $path")
      (a, b) match {
        case (x: InternalNode, y: InternalNode) =>
          assert(x.split == y.split && x.gain == y.gain, s"$name $path")
          same(x.leftChild, y.leftChild, path + "L")
          same(x.rightChild, y.rightChild, path + "R")
        case (_: LeafNode, _: LeafNode) =>
        case _ => fail(s"$name $path: $a vs $b")
      }
    }
    same(got.rootNode, expected.rootNode, "root")
  }

  test("a saved model round-trips through MLlib's reader and writer both ways") {
    assert(GraftTreeBridge.NodeDataSchema == Encoders.product[NodeData].schema)
    // ml_train_predict's frame (continuous features) and the flight
    // frame (dofW categorical)
    val frames = Seq(
      ("lineitem", Tables.lineitem(spark, Sf), lineitemSpec, 10),
      ("flights", FlightCsv.trainingFrame(spark), FlightCsv.trainSpec, 9))
    frames.foreach { case (name, df, spec, depth) =>
      withTempDir("graft-dt-compat") { dir =>
        val (graftDir, mllibDir) = (dir.resolve("graft").toString, dir.resolve("mllib").toString)
        val fitted = DecisionTree.train(df, spec, graftDir, maxDepth = depth)
        assert(fitted.numNodes > 1, name)
        assertSameModel(s"$name, MLlib's load", DecisionTreeRegressionModel.load(graftDir), fitted)
        assertSameModel(s"$name, graft's load", DecisionTree.load(spark, graftDir), fitted)
        fitted.write.save(mllibDir)
        assertSameModel(s"$name, MLlib's save", DecisionTree.load(spark, mllibDir), fitted)
        assert(spark.read.parquet(s"$graftDir/data").schema == spark.read.parquet(s"$mllibDir/data").schema,
          name)
        // a second save to one path replaces the first
        val smaller = DecisionTree.train(df, spec, graftDir, maxDepth = 2)
        assert(smaller.numNodes < fitted.numNodes, name)
        assertSameModel(s"$name, saved twice", DecisionTree.load(spark, graftDir), smaller)
      }
    }
  }

  test("node data without rawCount fails the load naming its Spark version") {
    withTempDir("graft-dt-v2") { dir =>
      val (saved, old) = (dir.resolve("saved"), dir.resolve("old"))
      DecisionTree.train(Tables.lineitem(spark, Sf), lineitemSpec, saved.toString, maxDepth = 3)
      spark.read.parquet(saved.resolve("data").toString).drop("rawCount")
        .write.parquet(old.resolve("data").toString)
      val metadata = Files.readString(saved.resolve("metadata/part-00000"), UTF_8)
      Files.createDirectories(old.resolve("metadata"))
      Files.writeString(old.resolve("metadata/part-00000"),
        metadata.replaceFirst("\"sparkVersion\":\"[^\"]*\"", "\"sparkVersion\":\"2.4.8\""), UTF_8)
      val e = intercept[IllegalArgumentException](DecisionTree.load(spark, old.toString))
      assert(e.getMessage.contains("Spark 2.4.8") && e.getMessage.contains("rawCount"), e.getMessage)
    }
  }

  /** Runs `body` and returns, for each job it started from this thread,
    * its description and the bytes its tasks wrote to shuffle. */
  private def jobsOf(body: => Unit): Seq[(String, Long)] = {
    val sc = spark.sparkContext
    val tag = s"graft-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Seq[Int])]()
    val shuffled = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.spec.jobs") == tag)
          jobs.put(e.jobId, (String.valueOf(e.properties.getProperty("spark.job.description")), e.stageIds))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffled.merge(e.stageId, e.taskMetrics.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.jobs", tag)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally {
      sc.setLocalProperty("graft.spec.jobs", null)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq.sortBy(_._1).map { case (_, (description, stages)) =>
      description -> stages.map(s => Option(shuffled.get(s)).fold(0L)(_.longValue)).sum
    }
  }

  test("the model save and the model load each run one job") {
    withTempDir("graft-dt-jobs") { dir =>
      val path = dir.toString
      val fit = jobsOf(DecisionTree.train(Tables.lineitem(spark, Sf), lineitemSpec, path, maxDepth = 6))
      // nothing but the save runs a job after the driver branch is taken
      val save = fit.filter(_._1.startsWith("DecisionTree fit: branch=driver"))
      assert(save.size == 1 && save.map(_._2).sum == 0, s"fit jobs: $fit")
      val load = jobsOf(DecisionTree.load(spark, path))
      assert(load.size == 1, s"load jobs: $load")
    }
  }
}
