package org.apache.spark.ml.tree.impl

import graft.{FlightCsv, SparkSpec}
import graft.ml.{FeatureSpec, FeatureVectorizer}
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.ml.tree.Split
import org.apache.spark.ml.util.MetadataUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The bridge's one-scan split sample against MLlib's own `findSplits`. */
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
}
