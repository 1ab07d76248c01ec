package graft.tools

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Synthesizes a NATURAL-GROWTH "sf1-like" corpus (dev tool,
  * round-11 verdict #8 — measurement honesty): 10× documents and
  * embeddings drawn FROM THE GENERATOR'S OWN DISTRIBUTIONS, fitted
  * empirically on sf0.1, instead of [[MakeSf1]]'s replicate-and-
  * perturb. The replica's 10-copy cliques are a FEATURE for dedup
  * stress (they force worst-case pair output), but they overstate
  * output-bound growth for a reader comparing against organic corpus
  * growth — this twin gives the other bound.
  *
  * Fitted model, all parameters estimated from sf0.1 (no invented
  * structure):
  *   - documents: empirical (lang, source) joint, empirical
  *     words-per-doc length distribution, per-lang unigram word
  *     distribution; each new doc samples i.i.d. words — the
  *     generator's own bag-of-small-vocab shape, without planted
  *     copies.
  *   - embeddings: per-label centroid + per-label residual σ (fits
  *     whatever per-label structure exists — measured, the labels
  *     are nearly geometry-free, so this reduces to the global
  *     distribution, which is exactly what "natural growth" should
  *     reproduce); new vectors are
  *     centroid + σ·gaussian, re-normalized to the unit sphere the
  *     source vectors live on; empirical label marginals.
  *
  * Everything is seeded (splitmix per row id) → byte-stable across
  * reruns. Remaining tables are copied from [[MakeSf1]]'s replica
  * output (relational queries are not what this twin measures).
  * Output: /tmp/graft_sf1n.
  */
object MakeSf1Natural {
  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def u01(z: Long): Double = (z >>> 11).toDouble / (1L << 53).toDouble

  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val replica = "/tmp/graft_sf1"
    val out = args.headOption.getOrElse("/tmp/graft_sf1n")
    val factor = 10
    val spark = graft.GraftSession.local()
    import spark.implicits._

    // ---- documents: fit the three empirical distributions ----
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val pairW = docs.groupBy("lang", "source").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val lens = docs.select(size(split(col("text"), "\\s+")).as("l"))
      .collect().map(_.getInt(0)) // empirical length sample, 5k ints
    val vocabByLang: Map[String, (Array[String], Array[Double])] =
      docs.select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "").groupBy("lang", "w").count().collect()
        .groupBy(_.getString(0)).map { case (lang, rows) =>
          val words = rows.map(_.getString(1))
          val w = rows.map(_.getLong(2).toDouble)
          val total = w.sum
          val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / total)
          lang -> (words, cum)
        }
    def pickCum(cum: Array[Double], u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cum, u)
      if (i >= 0) i else math.min(-(i + 1), cum.length - 1)
    }
    val pairCum = {
      val total = pairW.map(_._2).sum.toDouble
      val cum = pairW.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail.map(_ / total)
      (pairW.map(_._1), cum)
    }
    val bcVocab = spark.sparkContext.broadcast(vocabByLang)
    val bcLens = spark.sparkContext.broadcast(lens)
    val bcPairs = spark.sparkContext.broadcast(pairCum)
    val nNew = nDocs * factor
    val newDocs = spark.range(nNew).map { id =>
      val (pairs, pcum) = bcPairs.value
      val (lang, source) = pairs(pickCum(pcum, u01(mix(id * 7 + 1))))
      val len = bcLens.value((u01(mix(id * 7 + 2)) * bcLens.value.length).toInt
        .min(bcLens.value.length - 1))
      val (words, wcum) = bcVocab.value(lang)
      val sb = new StringBuilder
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(' ')
        sb.append(words(pickCum(wcum, u01(mix(id * 1000003 + 10 + i)))))
        i += 1
      }
      val text = sb.toString
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    newDocs.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[sf1n] documents: $nNew natural docs written")

    // ---- embeddings: per-label centroid + residual sigma ----
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nEmb = emb.count()
    val byLabel = emb.select(col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .groupBy(_._1).map { case (lab, rows) =>
        val dim = rows.head._2.length
        val c = new Array[Double](dim)
        rows.foreach(r => (0 until dim).foreach(i => c(i) += r._2(i)))
        (0 until dim).foreach(i => c(i) /= rows.length)
        var ss = 0.0
        rows.foreach(r => (0 until dim).foreach { i =>
          val d = r._2(i) - c(i); ss += d * d
        })
        val sigma = math.sqrt(ss / (rows.length * dim))
        lab -> (c, sigma, rows.length.toLong)
      }
    val labCum = {
      val labs = byLabel.keys.toArray.sorted
      val w = labs.map(l => byLabel(l)._3.toDouble)
      val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
      (labs, cum)
    }
    val bcLab = spark.sparkContext.broadcast(byLabel)
    val bcLabCum = spark.sparkContext.broadcast(labCum)
    val nNewE = nEmb * factor
    val newEmb = spark.range(nNewE).map { id =>
      val (labs, lcum) = bcLabCum.value
      val lab = labs(pickCum(lcum, u01(mix(id * 13 + 3))))
      val (c, sigma, _) = bcLab.value(lab)
      val dim = c.length
      val v = new Array[Float](dim)
      var norm = 0.0
      var i = 0
      while (i < dim) {
        // Box–Muller from two seeded uniforms
        val u1 = math.max(u01(mix(id * 4096 + 100 + 2 * i)), 1e-12)
        val u2 = u01(mix(id * 4096 + 101 + 2 * i))
        val g = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
        val x = c(i) + sigma * g
        v(i) = x.toFloat
        norm += x * x
        i += 1
      }
      val inv = (1.0 / math.sqrt(norm)).toFloat
      (id, v.map(_ * inv), lab)
    }.toDF("vec_id", "embedding", "label")
    newEmb.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[sf1n] embeddings: $nNewE natural vectors written")

    // ---- remaining tables: copy from the replica (not measured here) ----
    val others = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    others.foreach { t =>
      spark.read.parquet(s"$replica/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"[sf1n] relational tables copied from replica; output at $out")
    spark.stop()
  }
}
