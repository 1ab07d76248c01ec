package graft.tools

import graft.Tables
import org.apache.spark.sql.functions._

/** Offline trainer for the frozen PRODUCT-QUANTIZER codebooks (dev
  * tool) — the [[FitIvfCodebook]] pattern applied per subspace.
  *
  * Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) splits the 64-dim embedding
  * into m = 8 contiguous 8-dim subvectors and learns an independent
  * k = 256-centroid codebook per subspace (k-means on the RAW
  * subvectors, seed = 42); a vector's code is then the m nearest
  * centroid ids — 8 bytes, a 64× reduction over float64. Trained once
  * on the sf0.01 sample and shipped as constants
  * (`operators/PqCodebook.scala`), like the IVF coarse quantizer.
  * Each subspace is emitted as its own chunked methods so no single
  * generated method exceeds the JVM's 64 KB bytecode limit.
  */
object FitPqCodebook {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = args.headOption.getOrElse("src/main/scala/graft/operators/PqCodebook.scala")
    val m = 8      // subspaces
    val k = 256    // centroids per subspace (full byte codes, the standard PQ shape)
    val spark = graft.GraftSession.local(32)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.embeddings(spark, dir)
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .cache()
    val dim = e.head().getSeq[Double](0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books: Array[Array[Array[Double]]] = (0 until m).toArray.map { s =>
      val sub = e.select(array_to_vector(slice(col("v"), s * dsub + 1, dsub)).as("fv"))
      val km = new KMeans().setK(k).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("c")
      km.fit(sub).clusterCenters.map(_.toArray)
    }
    // one def per 64-centroid chunk keeps every generated method far
    // under the JVM's 64 KB bytecode ceiling (a single literal with
    // m*k*dsub = 16384 doubles would not compile)
    val chunk = 64
    val defs = new StringBuilder
    val bookRefs = books.zipWithIndex.map { case (book, s) =>
      val parts = book.grouped(chunk).zipWithIndex.map { case (grp, ci) =>
        val rows = grp.map(c =>
          "    Array(" + c.map(d => java.lang.Double.toString(d)).mkString(", ") + ")")
          .mkString(",\n")
        defs ++= s"  private def book${s}_$ci: Array[Array[Double]] = Array(\n$rows)\n\n"
        s"book${s}_$ci"
      }.toSeq
      s"    ${parts.mkString(" ++ ")}"
    }.mkString(",\n")
    val src =
      s"""package graft.operators
         |
         |/** Frozen product-quantizer codebooks: per-subspace k-means
         |  * (m = $m subspaces x k = $k centroids x dsub = $dsub dims,
         |  * seed = 42, maxIter = 10) trained offline on the raw sf0.01
         |  * `embeddings` subvectors by [[graft.tools.FitPqCodebook]].
         |  * Shipped as constants so PQ encode/score are pure codegen'd
         |  * expressions ([[graft.functions.PqEncode]] /
         |  * [[graft.functions.CosinePq]]).
         |  *
         |  * GENERATED by FitPqCodebook — edit by re-running that main.
         |  */
         |object PqCodebook {
         |$defs  /** codebooks(subspace)(centroid)(dim-within-subspace) */
         |  val codebooks: Array[Array[Array[Double]]] = Array(
         |$bookRefs)
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out), src.getBytes("UTF-8"))
    println(s"wrote $m subspaces x $k centroids x $dsub dims to $out")
    spark.stop()
  }
}
