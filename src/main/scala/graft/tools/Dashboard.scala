package graft.tools

import org.apache.spark.sql.functions._

/** Per-round SERVING-HEALTH + STREAMING-THROUGHPUT dashboard — one
  * committed JSON artifact (`dashboard_out.json`) carrying, per
  * round:
  *
  *   - the segment serving rows
  *     ([[graft.operators.Similarity.segmentServeRecallRow]],
  *     [[graft.operators.Similarity.graphArtifactHealthRow]],
  *     [[graft.operators.Similarity.seedArtifactHealthRow]]) at BOTH
  *     the oracle SF (sf0.01) and the bench SF (sf0.1), so the
  *     health numbers watch the same corpus the bench does;
  *   - the streaming throughput rows at the bench SF: the span-cut
  *     ingest loop's batch-size amortization curve
  *     ([[StreamThroughput.spanCutRow]] at 2/4/8/16 files per
  *     trigger — the shard stages as 16 files, so that is four batch
  *     sizes up to single-batch) and the two serving tiers
  *     ([[StreamThroughput.serveRow]] / [[StreamThroughput
  *     .graphServeRow]]).
  *
  * The rows existed and were spec-driven before; recording them per
  * round turns recall/staleness drift AND streaming-perf drift into
  * an artifact diff between rounds instead of README prose (the
  * bench_out.json discipline applied to serving and streaming).
  * Throughput rows are wall-clock and share the bench host's noise
  * floor — read them like bench lines (direction and shape, not
  * third digits).
  *
  * Usage: `runMain graft.tools.Dashboard [outFile] [oracleSfDir]
  * [benchSfDir] [--serving-only]` — the SF dirs default to the
  * committed-artifact pair (/root/testdata/sf0.01, sf0.1), so the
  * per-round workflow is unchanged while any other corpus location
  * stays reachable. */
object Dashboard {
  def main(args: Array[String]): Unit = {
    val positional = args.filter(!_.startsWith("--"))
    val outFile = positional.headOption.getOrElse("dashboard_out.json")
    val oracleSf = positional.lift(1).getOrElse("/root/testdata/sf0.01")
    val benchSf = positional.lift(2).getOrElse("/root/testdata/sf0.1")
    val servingOnly = args.contains("--serving-only")
    val spark = graft.GraftSession.local()
    import graft.operators.Similarity
    val lang = "en"
    // sfDir values are interpolated into the artifact — escape rather
    // than trust them (a quote would poison the committed JSON)
    def jstr(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def servingBlock(sfDir: String): String = {
      def oneRowJson(df: org.apache.spark.sql.DataFrame): String = {
        val rows = df.toJSON.collect()
        require(rows.length == 1,
          s"dashboard row builder returned ${rows.length} rows (expected 1) — " +
            s"is '$sfDir' missing the '$lang' segment?")
        rows(0)
      }
      // per-segment serving recall vs the exact in-segment brute
      // force — TWO rows: the fixed historical walk (beam=20,
      // round-over-round comparable, and the canary that caught the
      // sf0.1 decay in the first place) and the size-aware walk
      // (beamForSegment — what a serving rollout should run)
      val fixedBeam = 20 // the historical canary walk, held fixed across rounds
      val recall = oneRowJson(Similarity.segmentServeRecallRow(spark, sfDir, lang,
        beam = fixedBeam))
      graft.CacheRegistry.releaseAll(blocking = true)
      val members = Similarity.segmentMembers(spark, sfDir, lang)
      val nMembers = members.count()
      val (scaledBeam, rebuildGraph) =
        Similarity.walkBudgetAlarm(nMembers, fixedBeam)
      // when the scaled walk IS the fixed walk just measured, reuse
      // the row instead of re-running an identical measurement (the
      // comparison is against the beam that row actually used)
      val recallScaled = if (scaledBeam == fixedBeam) recall
        else oneRowJson(Similarity.segmentServeRecallRow(spark, sfDir,
          lang, beam = scaledBeam))
      graft.CacheRegistry.releaseAll(blocking = true)
      // WALK-BUDGET drift alarm (r18's beamForSegment scaladoc made a
      // flag): scaled beam past 2× the canary = rebuild-the-graph
      // signal. When it fires, record the REBUILD EVIDENCE row too —
      // the denser graphK=20 segment graph served at the halved
      // size-aware walk (measured in r18: 0.99 at beam 32 on
      // the n=808 segment the k=10 graph needs beam 64 for), so every
      // round's artifact carries the measured escape, not just the
      // alarm.
      val rebuildEvidence =
        if (!rebuildGraph) "null"
        else {
          val denseBeam = math.max(fixedBeam, math.ceil(nMembers / 24.0).toInt)
          val ev = oneRowJson(Similarity.segmentServeRecallRow(spark, sfDir,
            lang, beam = denseBeam, graphK = 20))
          graft.CacheRegistry.releaseAll(blocking = true)
          s"""{"graph_k":20,"beam":$denseBeam,"row":$ev}"""
        }
      // coverage health of the SAME segment graph the recall rows served
      val segTable = Similarity.knnGraphSegmentTableFor(spark, sfDir, lang, members)
      val health = oneRowJson(Similarity.graphArtifactHealthRow(spark, segTable,
        members.select("vec_id")))
      graft.CacheRegistry.releaseAll(blocking = true)
      // seed-artifact health for the corpus seed table (plane pinning,
      // occupancy, sample size — the pre-recall-cliff alarms)
      val seedTable = Similarity.lshSeedTable(spark, sfDir)
      val seed = oneRowJson(Similarity.seedArtifactHealthRow(spark, seedTable,
        graft.Tables.embeddings(spark, sfDir)))
      graft.CacheRegistry.releaseAll(blocking = true)
      s"""{"sf":${jstr(sfDir)},"segment":${jstr(lang)},
         |"segment_serve_recall":$recall,
         |"segment_serve_recall_scaled_beam":{"beam":$scaledBeam,"row":$recallScaled},
         |"walk_budget":{"canary_beam":$fixedBeam,"scaled_beam":$scaledBeam,
         |"n_members":$nMembers,"rebuild_graph":$rebuildGraph,
         |"rebuild_evidence":$rebuildEvidence},
         |"graph_artifact_health":$health,
         |"seed_artifact_health":$seed}""".stripMargin.replace("\n", "")
    }
    val serving = Seq(oracleSf, benchSf)
      .map(servingBlock).mkString("[", ",", "]")
    val throughput = if (servingOnly) "null" else {
      // the span-cut loop stages its shard as 16 files, so files-per-
      // trigger 2/4/8/16 is the four-point batch-size amortization
      // curve up to single-batch (each run rebuilds its tool-local
      // index — the loop mutates it)
      val curve = Seq(2, 4, 8, 16).map { f =>
        val row = StreamThroughput.spanCutRow(spark, benchSf, f)
        graft.CacheRegistry.releaseAll(blocking = true)
        row
      }
      val serve = StreamThroughput.serveRow(spark, benchSf, 2)
      graft.CacheRegistry.releaseAll(blocking = true)
      val gserve = StreamThroughput.graphServeRow(spark, benchSf, 2)
      graft.CacheRegistry.releaseAll(blocking = true)
      s"""{"spancut_curve":${curve.mkString("[", ",", "]")},
         |"serve":$serve,"graphserve":$gserve}""".stripMargin.replace("\n", "")
    }
    val json =
      s"""{"metric":"serving_dashboard","serving":$serving,
         |"throughput":$throughput}""".stripMargin.replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
