package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Writes `plans/<tag>/<query>_<suffix>.txt` — `.explain("formatted")`
  * of the named registry queries at the given SF dir, plus the AQE
  * FINAL executed plan (after one collect) appended below, so join
  * strategy / Exchange-count claims are checkable at the benched
  * scale. Round-19 optimization evidence tool.
  * Usage: `runMain graft.tools.ExplainQueries <tag> <suffix> <query> [query ...]`
  * (env SPARK_GRAFT_SF_DIR selects the corpus, default sf0.1). */
object ExplainQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainQueries <tag> <suffix> <query>...")
    val tag = args(0); val suffix = args(1); val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    Files.createDirectories(Paths.get(s"plans/$tag"))
    names.foreach { name =>
      // FIRST invocation: warmup, exactly like Bench — builds any
      // tracked caches. The plan captured below is the SECOND
      // invocation's (the steady state Bench times): once a cached
      // subtree is materialized its REAL stats feed join-strategy
      // estimates, which round 19 found can differ from the
      // first-run plan (pipe_span_dedup's probe join planned BHJ on
      // run 1 but SMJ on run 2+, where the timed cost lives).
      SparkEntry.queries(name)(spark, sfDir).collect()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      df.collect() // settle AQE on the final plan
      val fin = df.queryExecution.executedPlan.toString
      Files.writeString(Paths.get(s"plans/$tag/${name}_$suffix.txt"),
        s"# $name @ $sfDir (explain formatted, steady-state run)\n\n" + formatted +
          "\n\n# AQE FINAL executed plan (steady-state run)\n\n" + fin + "\n")
      graft.CacheRegistry.releaseAll(blocking = true)
      println(s"wrote plans/$tag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
