package graft.tools
import graft.{SparkEntry, Tables}
import graft.ml.{DecisionTree, FeatureSpec}
import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prints the actual model/rule agreement behind pipe_ml_filter's
  * agree_ok >= 0.9 contract at each SF dir — margin telemetry, not a
  * library surface. */
object ProbeAgreement {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val feats = TextAnalysis.qualityFeatures(Tables.documents(spark, dir))
        .withColumn("label", (col("words") >= 30 && col("alpha_ratio") >= 0.6).cast("double"))
      val spec = FeatureSpec(
        include = Some(Seq("words", "alpha_ratio", "punct_ratio", "stop_ratio")),
        labelField = "label")
      val mp = java.nio.file.Files.createTempDirectory("probe").toString
      DecisionTree.train(feats, spec, mp, maxDepth = 6,
        fitPartitions = math.max(8, spark.sparkContext.defaultParallelism / 4))
      val scored = DecisionTree.predict(feats, DecisionTree.load(spark, mp), spec, "score")
      val agree = scored.agg(
        avg(((col("score") >= 0.5) === (col("label") === 1.0)).cast("double"))).collect()(0).getDouble(0)
      println(f"[agree] $sf: $agree%.4f")
    }
    spark.stop()
  }
}
