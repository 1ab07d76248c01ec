package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

/** Checks of the benchmark's own arithmetic, on a ~6,000-row
  * (sf0.001-sized) slice of the base lineitem table. */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit = {
    if (!cond) throw new AssertionError(s"self-test failed: $what")
    println(s"ok $what")
  }

  def run(opts: Map[String, String]): Unit = {
    // percentile sample-count rule: at least ten samples above
    val xs = (1 to 200).map(_.toDouble)
    expect(Bench.tailPercentile(xs).contains(95 -> 190.0), "p95 needs 200 samples")
    expect(Bench.tailPercentile(xs.take(199)).contains(90 -> 180.0), "199 samples fall back to p90")
    expect(Bench.tailPercentile(xs.take(20)).contains(50 -> 10.0), "20 samples give p50")
    expect(Bench.tailPercentile(xs.take(19)).isEmpty, "19 samples give no tail")
    expect(Bench.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")

    // span self time: children overlap and one runs past its parent
    val parent = Span(1, 0, "action", "a", 0, 100)
    val kids = Seq(Span(2, 1, "job", "j", 10, 30), Span(3, 1, "job", "j", 20, 50),
      Span(4, 1, "job", "j", 80, 120), Span(5, 2, "stage", "s", 12, 28))
    val self = Spans.selfTimes(parent +: kids)
    expect(self(1) == 40, "parent self time excludes the union of its children")
    expect(self(2) == 4 && self(5) == 16, "nested self time")
    expect(Spans.selfByLayer(parent +: kids) == Map("action" -> 40L, "job" -> 74L, "stage" -> 16L),
      "self time per layer")
    expect(Spans.covered(0, 10, Nil) == 0, "nothing covered")

    // digest output round-trips through the pinned-file reader
    val pinned = Json.render(Map("q1" -> Map("rows" -> 3L, "digest" -> "ab-1-2")))
    expect(Json.readDigests(pinned) == Map("q1" -> Digest.Result(3, "ab-1-2")), "pinned digest parse")

    val work = Paths.get(opts("work"))
    val spark = Conf.session(work)
    try {
      val li = spark.read.parquet(s"${opts("data")}/base/lineitem.parquet")
        .filter(col("l_orderkey") < 1500).cache()
      val n = li.count()
      expect(n > 4000 && n < 8000, s"sf0.001-sized slice ($n rows)")
      val d = Digest.of(li)
      expect(Digest.of(li.orderBy(rand(7)).repartition(3)) == d, "digest ignores row order")
      expect(Digest.of(li.withColumn("l_extendedprice", col("l_extendedprice") * (1.0 + 1e-13))) == d,
        "digest rounds floats")
      val changed = li.withColumn("l_extendedprice",
        when(col("l_orderkey") === li.agg(min("l_orderkey")).head().getLong(0), col("l_extendedprice") + 0.01)
          .otherwise(col("l_extendedprice")))
      expect(Digest.of(changed).digest != d.digest, "digest sees a changed value")
      expect(Digest.of(li.limit(100)).rows == 100, "digest counts rows")
      expect(Digest.of(li.withColumnRenamed("l_tax", "tax")).digest != d.digest, "digest sees the schema")
      val nested = li.select(col("l_orderkey"), array(col("l_tax"), col("l_discount")).as("a"),
        map(col("l_linenumber"), col("l_quantity")).as("m"))
      expect(Digest.of(nested.orderBy(rand(3))) == Digest.of(nested), "digest of nested values")
    } finally spark.stop()
    println("selftest passed")
  }
}
