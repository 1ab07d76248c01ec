package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes an "sf1-like" dataset for SCALING MEASUREMENT ONLY
  * (dev tool; correctness is gated on the driver's real sf dirs).
  *
  * Each non-dim table is replicated 10× from sf0.1 with key columns
  * shifted per replica (preserving foreign-key joins and the
  * keys-per-row cardinality ratios) and content mutated per replica —
  * documents get a unique suffix and embeddings a small per-replica
  * first-dim delta — so dedup/similarity workloads see mostly-unique
  * data rather than a degenerate 10-exact-copies corpus. region and
  * nation stay as-is (replicating the dims would break FK semantics
  * real scale growth doesn't have). Output: /tmp/graft_sf1.
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val reps = 10
    val spark = graft.GraftSession.local()

    def replicate(table: String, shifts: Map[String, Long], mutate: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val parts = (0 until reps).map { i =>
        val shifted = shifts.foldLeft(base) { case (df, (c, span)) =>
          df.withColumn(c, col(c) + lit(i * span))
        }
        mutate(shifted, i)
      }
      parts.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[sf1] $table x$reps written")
    }

    // spans: one decade above each table's max key keeps replicas disjoint
    val M = 100000000L
    spark.read.parquet(s"$src/region.parquet").write.mode("overwrite").parquet(s"$out/region.parquet")
    spark.read.parquet(s"$src/nation.parquet").write.mode("overwrite").parquet(s"$out/nation.parquet")
    println("[sf1] region/nation copied (dims not replicated)")
    replicate("customer", Map("c_custkey" -> M))
    replicate("supplier", Map("s_suppkey" -> M))
    replicate("part", Map("p_partkey" -> M))
    replicate("orders", Map("o_orderkey" -> M, "o_custkey" -> M))
    replicate("lineitem", Map("l_orderkey" -> M, "l_partkey" -> M, "l_suppkey" -> M))
    replicate("events", Map("event_id" -> M, "user_id" -> M))
    // documents/embeddings shift by M + 1 — COPRIME TO 10, unlike the
    // pure decade M: with multiple-of-10 shifts every copy of an
    // original keeps its vec_id % 10, so the harness's %10 holdout
    // removes ALL ten copies of a held-out original together and the
    // base corpus contains no twin of any held-out query (measured
    // 0.031 — the stranger floor, not a serving number). With i*(M+1)
    // the ten copies land in all ten residue classes: exactly one
    // copy of each original is held out and its NINE twins stay in
    // base, so held-out recall at the replica measures what it should
    // — a new query arriving at a corpus that contains its
    // near-duplicates. Replicas stay disjoint (max base id << M) and
    // the doc_id ≡ vec_id correspondence is preserved (same span on
    // both tables).
    replicate("documents", Map("doc_id" -> (M + 1)),
      (df, i) => df.withColumn("text", concat(col("text"), lit(s" replica$i"))))
    replicate("embeddings", Map("vec_id" -> (M + 1)),
      (df, i) => df.withColumn("embedding",
        expr(s"transform(embedding, (x, j) -> IF(j = 0, cast(x + ${i * 0.001} as float), x))")))
    spark.stop()
  }
}
