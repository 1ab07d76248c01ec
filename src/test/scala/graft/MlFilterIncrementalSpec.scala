package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-4 additions: the composed ML×pipeline quality filter, the
  * incremental (shard-vs-corpus) dedup, and the repeated-substring
  * corpus stats. */
class MlFilterIncrementalSpec extends SparkSpec {

  test("pipe_ml_filter: key set, rule label, and per-lang stats invariants") {
    val out = SparkEntry.queries("pipe_ml_filter")(spark, Sf).collect()
    val docs = Tables.documents(spark, Sf).select("doc_id", "lang", "text").collect()
    assert(out.length == docs.length, "one row per document")
    assert(out.map(_.getLong(0)).toSet == docs.map(_.getLong(0)).toSet)
    // rule_pass must be the deterministic gate, independently recomputed
    val rule = docs.map { r =>
      val t = r.getString(2)
      val words = "\\S+".r.findAllIn(t).length
      val alpha = t.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))
        .toDouble / math.max(t.length, 1)
      r.getLong(0) -> (words >= 30 && alpha >= 0.6)
    }.toMap
    out.foreach { r =>
      assert(r.getBoolean(2) == rule(r.getLong(0)), s"rule_pass mismatch for doc ${r.getLong(0)}")
      assert(r.getBoolean(3), "has_score")
      assert(r.getBoolean(4), "agree_ok (tree reproduces its training rule on >= 90%)")
    }
    // per-lang kept/dropped report derived from the same model output
    // shape: partitions must cover, and both classes must appear
    val keptTotal = out.count(_.getBoolean(2))
    assert(keptTotal > 0 && keptTotal < out.length, "both kept and dropped docs exist")
  }

  test("dedup_incremental: exact dups imply near dups; LSH pairs are covered") {
    val inc = SparkEntry.queries("dedup_incremental")(spark, Sf).collect()
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
    val shardIds = docs.map(_.getLong(0)).filter(_ % 10 == 0).toSet
    assert(inc.map(_.getLong(0)).toSet == shardIds, "one row per new-shard doc")
    // brute-force exact check: shard text present in corpus
    val corpusTexts = docs.filter(_.getLong(0) % 10 != 0).map(_.getString(1)).toSet
    val expectExact = docs.filter(r => r.getLong(0) % 10 == 0)
      .map(r => r.getLong(0) -> corpusTexts.contains(r.getString(1))).toMap
    inc.foreach { r =>
      assert(r.getBoolean(1) == expectExact(r.getLong(0)),
        s"exact_dup mismatch for doc ${r.getLong(0)}")
      // identical text => identical signature => some band collides
      if (r.getBoolean(1)) assert(r.getBoolean(2), "exact dup must also band-collide")
    }
    // every minhash-LSH verified pair crossing the shard boundary passed
    // banding, so its shard member must be flagged near_dup
    val nearFlag = inc.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    Dedup.dedupMinhashLsh(spark, Sf).collect().foreach { p =>
      val (a, b) = (p.getLong(0), p.getLong(1))
      if (a % 10 == 0 && b % 10 != 0) assert(nearFlag(a), s"LSH pair ($a,$b) not covered")
      if (b % 10 == 0 && a % 10 != 0) assert(nearFlag(b), s"LSH pair ($a,$b) not covered")
    }
  }

  test("pipe_repeated_ngrams matches a brute-force substring count") {
    val out = TextAnalysis.pipeRepeatedNgrams(spark, Sf, n = 50, k = 20).collect()
    // brute force: every 50-char window (whole text when shorter), raw
    // string grouping, same (count desc, md5-60) tie-break
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
    val occ = docs.flatMap { r =>
      val t = r.getString(1).toLowerCase
      val grams =
        if (t.length <= 50) Seq(t)
        else (0 to t.length - 50).map(i => t.substring(i, i + 50))
      grams.map(g => (r.getLong(0), g))
    }
    def md560(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val expected = occ.groupBy(_._2).view
      .mapValues(v => (v.length.toLong, v.map(_._1).distinct.length.toLong)).toSeq
      .filter(_._2._1 >= 2)
      .sortBy { case (g, (n, _)) => (-n, md560(g)) }
      .take(20)
    assert(out.length == expected.length)
    out.zip(expected).zipWithIndex.foreach { case ((row, (g, (nOcc, nDocs))), i) =>
      assert(row.getLong(0) == i + 1, "rank is dense from 1")
      assert(row.getString(1) == g, s"gram mismatch at rank ${i + 1}")
      assert(row.getLong(2) == nOcc && row.getLong(3) == nDocs,
        s"counts mismatch at rank ${i + 1}")
    }
  }

  test("pipe_repeated_ngrams: docs shorter than the gram width count whole-text grams") {
    import spark.implicits._
    withTempDir("graft-shortdocs") { tmp =>
      val dir = tmp.toString
      Seq(
        (0L, "tiny"), (1L, "tiny"), (2L, "unique"),
        (3L, "a considerably longer document body that easily exceeds the fifty character gram width"))
        .toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      val out = TextAnalysis.pipeRepeatedNgrams(spark, dir).collect()
      // only the two identical short docs share a (whole-text) gram
      assert(out.length == 1)
      assert(out(0).getString(1) == "tiny" && out(0).getLong(2) == 2 && out(0).getLong(3) == 2)
    }
  }
}
