package graft.tools

import org.apache.spark.sql.functions._

/** Offline BPE vocabulary fit (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"): classic byte-pair
  * merges over the sf0.01 word-frequency dictionary, printed as the
  * frozen `BpeVocab.scala` constants — the same frozen-artifact
  * pattern as [[FitIvfCodebook]]. The fit is a one-time DEV step;
  * the library ships the resulting vocab as committed constants so
  * the Spark kernel and the DuckDB oracle replay the identical token
  * set with zero runtime fitting. Deterministic: ties in pair
  * frequency break lexicographically.
  *
  * The word dictionary collapses to ~31 distinct words here, so the
  * collect is bounded by VOCABULARY size, not corpus size — at 100 TB
  * the same fit runs on the word-frequency aggregate (a groupBy the
  * cluster does anyway), never on raw text.
  */
object FitBpeVocab {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(96)
    val spark = graft.GraftSession.local(8)

    // word-frequency dict: the only thing BPE fitting ever needs
    val wordFreq: Map[String, Long] = graft.Tables.documents(spark, src)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.stop()

    // classic BPE: repeatedly merge the most frequent adjacent symbol
    // pair (lexicographic tie-break), rewriting the dict's symbol
    // sequences after each merge
    var dict: Map[Vector[String], Long] =
      wordFreq.map { case (w, c) => w.map(_.toString).toVector -> c }
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- dict; j <- 0 until syms.length - 1)
        pairCounts((syms(j), syms(j + 1))) =
          pairCounts.getOrElse((syms(j), syms(j + 1)), 0L) + c
      if (pairCounts.isEmpty) done = true
      else {
        val ((a, b), _) = pairCounts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        merges += (a + b)
        dict = dict.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var k = 0
          while (k < syms.length) {
            if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
              out += (a + b); k += 2
            } else { out += syms(k); k += 1 }
          }
          out.result() -> c
        }.groupMapReduce(_._1)(_._2)(_ + _)
        i += 1
      }
    }

    // final vocab: a fixed single-char base alphabet (robust to corpus
    // regen — any unseen char becomes UNK, never a crash) + the merged
    // units in merge order; id = position
    val base = ("abcdefghijklmnopqrstuvwxyz0123456789" +
      ".,;:!?@#&%*()-_+=/'").map(_.toString)
    val vocab = (base ++ merges.distinct.filterNot(base.contains)).toVector
    println(s"// ${merges.length} merges fit on $src; vocab size ${vocab.length}")
    println("  val tokens: Array[String] = Array(")
    println(vocab.grouped(8).map(g =>
      "    " + g.map(t => "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString(", ")).mkString(",\n"))
    println("  )")
  }
}
