package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

/** The lineitem part of `graft.tools.MakeSf1`'s sf1-like recipe,
  * pointed at the benchmark's own base table: the table is replicated
  * `reps` times with its keys shifted per replica. Only `ml_score`
  * reads the result. */
object Datagen {
  def run(src: String, out: String, reps: Int): Unit = {
    val spark = Conf.session(Paths.get(out).resolveSibling(Paths.get(out).getFileName.toString + ".work"))
    val shift = 100000000L
    val base = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until reps).map { i =>
      Seq("l_orderkey", "l_partkey", "l_suppkey").foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i * shift)))
    }.reduce(_ unionAll _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    spark.stop()
  }
}
