package graft

import graft.operators.{Dedup, TextAnalysis}

/** The driver's smoke surface: `SparkEntry.entry`. */
class EntrySpec extends SparkSpec {

  test("entry returns per-language (lang, n_docs, chars) over quality-kept exact-dedup keepers") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Sf) // entry's own default
    val out = SparkEntry.entry(spark)
    assert(out.columns.toSeq == Seq("lang", "n_docs", "chars"))
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "entry() returned no rows")
    assert(rows.map(_._1).toSeq == rows.map(_._1).distinct.sorted.toSeq,
      "one row per language, ordered by lang")
    // recompute from the two stages' outputs: documents that pass the
    // quality filter AND are exact-dedup keepers, grouped by language
    val kept = TextAnalysis.pipeQualityFilter(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val keepers = Dedup.dedupExact(spark, dir).select("keep_id")
      .collect().map(_.getLong(0)).toSet
    val expected = Tables.documents(spark, dir).select("doc_id", "lang", "text").collect()
      .filter(r => kept(r.getLong(0)) && keepers(r.getLong(0)))
      .groupBy(_.getString(1)).toSeq.sortBy(_._1)
      .map { case (lang, rs) =>
        (lang, rs.length.toLong,
          rs.map(r => r.getString(2).codePointCount(0, r.getString(2).length).toLong).sum)
      }
    assert(rows.toSeq == expected)
    assert(rows.forall { case (_, n, chars) => n > 0 && chars > 0 })
    CacheRegistry.releaseAll()
  }
}
