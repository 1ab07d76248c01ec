package graft

import graft.operators.{Relational, TextAnalysis}

/** Physical-plan assertions: the scale-critical properties (pushdown,
  * pruning, broadcast, top-k short-circuit, codegen) must hold — not
  * just the results. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2_filter pushes predicates into the parquet scan") {
    val plan = planOf(Relational.q2Filter(spark, Sf))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("l_discount") && plan.contains("l_quantity"))
  }

  test("q2_filter prunes columns at the scan (no full-schema read)") {
    val plan = planOf(Relational.q2Filter(spark, Sf))
    // ReadSchema must not include untouched wide columns
    assert(!plan.contains("l_comment"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), s"unpruned scan: $readSchema")
  }

  test("q4_broadcast_join broadcasts both dimension tables") {
    val plan = planOf(Relational.q4BroadcastJoin(spark, Sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, s"missing broadcasts:\n$plan")
  }

  test("q8_topk plans TakeOrderedAndProject (no full sort)") {
    val plan = planOf(Relational.q8TopK(spark, Sf))
    assert(plan.contains("TakeOrderedAndProject"), s"full sort planned:\n$plan")
  }

  test("q1_agg aggregates inside whole-stage codegen with partial aggregation") {
    val df = Relational.q1Agg(spark, Sf)
    df.collect() // materialize so AQE settles on the final plan
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the whole-stage-codegen marker in AQE simpleStrings
    assert(plan.contains("*(1)"), s"no codegen:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
    // partial + final pair
    assert("HashAggregate".r.findAllIn(plan).length >= 2)
  }

  test("text_stats is map-only (no shuffle except the output sort)") {
    val plan = planOf(TextAnalysis.textStats(spark, Sf))
    // one Exchange for the final orderBy is expected; nothing else
    assert("Exchange".r.findAllIn(plan).length <= 1, s"unexpected shuffles:\n$plan")
  }

  test("pipe_corpus_shuffle aggregates on the window's partitioning (one hash shuffle total)") {
    val plan = planOf(TextAnalysis.pipeCorpusShuffle(spark, Sf))
    // one hashpartitioning(shard) Exchange feeds BOTH the per-shard
    // window sort and the manifest aggregate; the only other exchange
    // is the 8-row output rangepartitioning
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"manifest aggregate re-shuffled what the window already partitioned:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).length <= 1,
      s"extra range shuffles:\n$plan")
  }

  test("q26_asof_join plans as one union-window pass, not a range join") {
    val df = Relational.q26AsofJoin(spark, Sf)
    df.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — only
    // the final plan's operators count
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of degenerated to a range/NL join:\n$plan")
    assert(plan.contains("Window"), s"no window operator:\n$plan")
    // every data shuffle is the user_id repartition for the window
    // (AQE materializes one Exchange node per union branch) plus the
    // single range partition for the output ordering — nothing else
    val hashEx = "Exchange hashpartitioning\\(([a-z_]+)".r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(hashEx == Set("user_id"), s"unexpected hash shuffles on $hashEx:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).length == 1, s"extra range shuffles:\n$plan")
  }

  test("q27_range_join plans a hash join, not a nested loop") {
    val df = Relational.q27RangeJoin(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join not binned into an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no hash join:\n$plan")
  }

  test("q32_grouped_topk partially aggregates the bounded buffers map-side") {
    val df = Relational.q32GroupedTopK(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk") || plan.contains("ObjectHashAggregate"),
      s"no partial aggregation of top-k buffers:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective non-broadcast join") {
    import org.apache.spark.sql.functions._
    // the 100 TB shape: the filtered dim is too big to broadcast, so
    // Spark injects a bloom filter built from the creation side into
    // the fact scan (might_contain) — assert our session config lets
    // that optimization engage
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB") {
      val o = Tables.orders(spark, Sf)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 400000)
      val j = Tables.lineitem(spark, Sf)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), s"no runtime bloom filter injected:\n$plan")
    }
  }

  test("dedup_incremental probes the corpus via broadcast semi-joins, never a shuffle join") {
    val df = graft.operators.Dedup.dedupIncremental(spark, Sf)
    df.collect() // settle AQE on the final plan
    val plan = df.queryExecution.executedPlan.toString
    // both probe paths (band buckets, text hashes) must build the
    // shard side and stream the corpus through a broadcast semi-join
    assert("LeftSemi, BuildRight".r.findAllIn(plan).length >= 2,
      s"corpus probe not a broadcast semi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled through a sort-merge join:\n$plan")
  }

  test("text_bm25 filters postings to the query vocabulary BELOW the shuffle; small sides broadcast") {
    val df = TextAnalysis.textBm25(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the vocabulary prefilter must run in the scan/project stage
    // (before any Exchange) so only matched postings cross the wire —
    // the plan's Filter with the IN-list must not sit above an Exchange
    val lines = plan.linesIterator.toSeq
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("term"))
    assert(filterIdx >= 0, s"no vocabulary filter found:\n$plan")
    // df / query-terms / corpus-stats all broadcast; the only
    // shuffle-heavy joins would show as SortMergeJoin
    assert(!plan.contains("SortMergeJoin"),
      s"bm25 shuffled a side that should broadcast:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"missing broadcast joins:\n$plan")
  }

  test("GLOBAL sweep: no query in the registry plans a CartesianProduct") {
    // safety net over the WHOLE surface, not just the queries with
    // dedicated plan specs: CartesianProductExec is the one join
    // strategy that can never survive 100 TB (the one-row scalar
    // attaches plan as BroadcastNestedLoop over a 1-row side, which
    // is the documented acceptable shape). Plans are CONSTRUCTED,
    // not executed — construction itself runs the bounded driver
    // steps some operators contain, which is the cost of admission.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan =
        try SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"CONSTRUCTION FAILED: ${e.getMessage}" }
      CacheRegistry.releaseAll()
      if (plan.contains("CartesianProduct") || plan.startsWith("CONSTRUCTION FAILED"))
        Some(name -> plan.linesIterator.take(3).mkString(" | "))
      else None
    }
    assert(offenders.isEmpty,
      s"queries planning CartesianProduct (or failing to plan):\n" +
        offenders.map { case (n, p) => s"  $n: $p" }.mkString("\n"))
  }

  test("informed-seed mate join: hash join on (t, bk), query filter pushed to the scan") {
    import org.apache.spark.sql.functions._
    // the persisted lshSeedTable path's plan contract: the (t, bk)
    // equi-join is a HASH join (at spec scale a broadcast; at 100 TB
    // AQE sizes the artifact side), never a nested loop, and the
    // serve batch's predicate reaches the parquet scan — the seed
    // derivation must stay query-rate-bounded, not artifact-bounded
    val seedT = graft.operators.Similarity.lshSeedTable(spark, Sf)
    val corpus = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val mates = graft.operators.Similarity.informedSeedMates(spark, Sf, queries)
    mates.collect()
    val plan = mates.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"mate join is not an equi-hash/merge join:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"mate join degenerated to a nested loop:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)]"),
      s"query predicate not pushed to the embeddings scan:\n$plan")
    // the persisted FALLBACK SAMPLE (t = -1 rows): its read must touch
    // ONLY the artifact — no corpus parquet anywhere in the plan. With
    // informedSeedMates and informedSeedSample both fed to the core,
    // serve-time seed derivation is corpus-scan-free: the mate join
    // scans the artifact + the query batch (above), and the sample is
    // a bounded TakeOrdered over ≤ ~SeedSampleCap artifact rows (the
    // former inline form was a TakeOrdered over the FULL corpus id
    // column per serve batch — an O(corpus) input at 100 TB).
    val sample = graft.operators.Similarity.informedSeedSample(spark, Sf, beam = 20)
    assert(sample.collect().length == 80, "sample read must yield 4*beam rows")
    val sPlan = sample.queryExecution.executedPlan.toString
    assert(!sPlan.contains(Sf) && !sPlan.contains("embeddings"),
      s"persisted fallback sample still scans the corpus parquet:\n$sPlan")
    assert(sPlan.contains("graft_lsh_seed"),
      s"persisted fallback sample does not read the seed artifact:\n$sPlan")
    assert(sPlan.contains("TakeOrderedAndProject"),
      s"sample prune is not a bounded TakeOrdered:\n$sPlan")
    spark.sql(s"DROP TABLE IF EXISTS $seedT")
    CacheRegistry.releaseAll()
  }

  test("pipe_span_dedup: fat gram stream never force-shuffled; count stays long-only codegen agg") {
    val df = graft.operators.Dedup.pipeSpanDedup(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // no forced repartition of the ~20-bytes-per-character
    // (doc_id, p, g) stream: the occurrence count shuffles a
    // column-pruned g-only stream and the hit probe broadcast-joins
    // the small repeated-gram set against the scan
    assert(!plan.contains("REPARTITION_BY_COL"),
      s"fat gram stream force-shuffled:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in span dedup:\n$plan")
    // the gram occurrence count is a fixed-width HashAggregate with
    // map-side combine (the dedup_substring GC lesson) — the only
    // object aggregate is the per-doc cut-list fold, keyed on doc_id
    // and bounded by duplicated-doc count
    assert("HashAggregate\\(keys=\\[g#\\d+L\\], functions=\\[count".r
      .findFirstIn(plan).isDefined,
      s"gram count is not a long-only hash aggregate:\n$plan")
    assert(plan.contains("partial_count"),
      s"no map-side combine on the gram count:\n$plan")
    assert(!"ObjectHashAggregate\\(keys=\\[g#".r.findFirstIn(plan).isDefined,
      s"object aggregation on gram groups (GC-pressure-sensitive):\n$plan")
  }

  test("span dedup past-broadcast fallback: forced gram exchange, no broadcast probe, identical cuts") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    // the deliberate duplication-heavy-corpus shape: repartition the
    // gram scan on g once (count and probe both consume it) instead
    // of letting a too-big-to-broadcast rep set silently force a
    // sort-merge shuffle of the fat stream ON TOP of the count's
    for ((name, core) <- Seq(
        "remove-all" -> ((sc: Dedup.Scale) => Dedup.spanDedupCore(docs, 50, sc)),
        "keep-first" -> ((sc: Dedup.Scale) => Dedup.spanDedupKeepFirstCore(docs, 50, sc)))) {
      val forced = core(Dedup.Scale.Huge)
      val forcedRows = forced.collect()
      val plan = forced.queryExecution.executedPlan.toString
      assert(plan.contains("REPARTITION_BY_COL"),
        s"$name: forced shape lost its explicit gram exchange:\n$plan")
      assert("BroadcastHashJoin.*\\[g#".r.findFirstIn(plan).isEmpty,
        s"$name: forced shape still broadcasts the repeated-gram set:\n$plan")
      assert(!plan.contains("CartesianProduct"))
      // both shapes certify the same cleaned corpus
      val default = core(Dedup.Scale.Default).collect()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars_cut"), r.getAs[String]("cut_ranges"))
      assert(forcedRows.map(key).toSet == default.map(key).toSet,
        s"$name: forced-shuffle shape cuts differently from the broadcast shape")
      CacheRegistry.releaseAll()
    }
  }

  test("ngram jaccard past the cache limit: no shingle cache, no broadcast verify sides, identical pairs") {
    import graft.operators.Dedup
    // the shape a corpus past Scale.CacheDocLimit takes; auto-broadcast
    // is off so the spec corpus plans the joins a real corpus would
    // (only the small tier's explicit hint may still broadcast)
    def pairs(scale: Dedup.Scale) = {
      CacheRegistry.releaseAll()
      val df = Dedup.ngramJaccardPairs(Tables.documents(spark, Sf), 12, 0.8, scale)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      (rows, planOf(df))
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (atScale, plan) = pairs(Dedup.Scale.Default)
      assert("InMemoryTableScan \\[[^\\]]*shingles#".r.findFirstIn(plan).isEmpty,
        s"shingle arrays cached past the cache limit:\n$plan")
      assert("BroadcastHashJoin \\[id_[ab]#".r.findFirstIn(plan).isEmpty,
        s"doc-array verify side broadcast past the cache limit:\n$plan")
      val (small, smallPlan) = pairs(Dedup.Scale.Small)
      assert("InMemoryTableScan \\[[^\\]]*shingles#".r.findFirstIn(smallPlan).isDefined,
        s"small tier lost its shingle cache:\n$smallPlan")
      for (side <- Seq("id_a", "id_b"))
        assert(s"BroadcastHashJoin \\[$side#".r.findFirstIn(smallPlan).isDefined,
          s"small tier lost its broadcast $side verify side:\n$smallPlan")
      assert(atScale.nonEmpty, "no near-dup pair at spec scale — the comparison is vacuous")
      assert(atScale == small, "the uncached shape finds different pairs")
    }
    CacheRegistry.releaseAll()
  }

  test("span-family dir entry points thread the broadcast gate: below the doc limit the probe broadcasts, no forced gram exchange") {
    // every dir-based span entry point passes Dedup.Scale.of(s, dir)
    // to its core (an entry left at the core's default would
    // broadcast regardless of corpus size, which past the 8 GB
    // broadcast cap fails the job outright at cluster scale); this
    // pins the below-limit side (no gram shuffle at test scale →
    // broadcast probe, no forced repartition), so an inverted gate
    // would fail here, and the forced branch itself is covered by the
    // past-broadcast fallback test above.
    for ((name, df) <- Seq(
        "pipe_span_ingest" -> TextAnalysis.pipeSpanIngest(spark, Sf),
        "pipe_full_ingest" -> TextAnalysis.pipeFullIngest(spark, Sf),
        "pipe_span_dedup_multibyte" ->
          graft.operators.Dedup.pipeSpanDedupMultibyte(spark, Sf),
        "pipe_span_keep_first_multibyte" ->
          graft.operators.Dedup.pipeSpanKeepFirstMultibyte(spark, Sf))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin \\[g#".r.findFirstIn(plan).isDefined,
        s"$name: probe does not broadcast the repeated-gram set below the doc limit:\n$plan")
      assert(!plan.contains("REPARTITION_BY_COL"),
        s"$name: forced gram exchange taken below the doc limit (inverted gate?):\n$plan")
    }
    CacheRegistry.releaseAll()
  }

  test("dedup_substring stays in fixed-width codegen aggregation — no object-agg, no unbounded buffer") {
    val df = graft.operators.Dedup.dedupSubstring(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the gram df-count and the final pair count must both combine
    // map-side: partial aggregate before each Exchange
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
    // memory bounded BY CONSTRUCTION and ALLOCATION-FREE: every
    // aggregate is a long-only HashAggregate (fixed-width UnsafeRow
    // state, whole-stage codegen). ObjectHashAggregate falls back to
    // sort-based object aggregation at 128 distinct keys — millions
    // of gram groups would run the slow path, and its per-group
    // buffer churn made this the bench's most GC-sensitive line
    // (2 s quiet / 18 s under host memory pressure, r11/r12).
    assert(!plan.contains("ObjectHashAggregate"),
      s"object aggregation on the gram rollup (GC-pressure-sensitive):\n$plan")
    assert(!plan.toLowerCase.contains("collect_list"),
      s"unbounded collect_list buffers the full id list pre-filter:\n$plan")
    // pair generation is the df-capped self-join on the gram hash —
    // fan-out <= maxDf²/2 per gram by the BETWEEN filter, never a
    // cartesian
    assert(!plan.contains("CartesianProduct"), s"cartesian pair generation:\n$plan")
    // the exploded gram table feeds the df-count AND both join sides
    // but is computed once: cached below the size crossover
    // (InMemoryTableScan at spec scale), reused-exchange above it
    assert(plan.contains("InMemoryTableScan") || plan.contains("ReusedExchange"),
      s"gram table recomputed per consumer (no cache, no exchange reuse):\n$plan")
    // the AT-SCALE form (above the cache crossover, where the gram
    // explosion is ~16 bytes per corpus character and must not be
    // cached): the (g, doc_id) exchange is shuffled ONCE and reused
    // on the second side of the self-join
    // (force the shuffled-join shape a real corpus would take — at
    // spec scale AQE broadcasts every side, leaving no exchange to
    // reuse or measure; and drop the registry run's gram cache first,
    // or CacheManager substitutes it into the "uncached" probe by
    // canonical-plan match)
    CacheRegistry.releaseAll()
    import org.apache.spark.sql.functions._
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val gramsUncached = Tables.documents(spark, Sf)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.VectorFunctions.ngram_hashes(lower(col("text")), 50))).as("g"))
      val atScale = graft.operators.Dedup.substringPairs(gramsUncached, 50)
      atScale.collect()
      val scalePlan = atScale.queryExecution.executedPlan.toString
      assert(scalePlan.contains("ReusedExchange"),
        s"at-scale form shuffles the gram table twice (no exchange reuse):\n$scalePlan")
      assert(!scalePlan.contains("ObjectHashAggregate"),
        s"at-scale form fell back to object aggregation:\n$scalePlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    CacheRegistry.releaseAll()
  }

  test("sketch PROD forms carry no exact-count verification aggregate") {
    import graft.operators.TextAnalysis
    // the registry queries are the CONTRACT HARNESSES (sketch vs
    // exact); these are the forms a pipeline actually ships — their
    // plans must hold ONLY fixed-size sketch state: no count()
    // aggregate over the token/shingle stream, no distinct, no cached
    // intermediate, no window rank
    val prods = Seq(
      "pipe_heavy_hitters_rollup" -> TextAnalysis.pipeHeavyHittersRollupProd(spark, Sf),
      "pipe_sketch_rollup" -> TextAnalysis.pipeSketchRollupProd(spark, Sf),
      "text_top_bigrams_sketch" -> TextAnalysis.textTopBigramsSketchProd(spark, Sf))
    prods.foreach { case (name, df) =>
      assert(df.count() > 0, s"$name prod form returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("count(1)") && !plan.contains("count_distinct") &&
        !plan.contains("partial_count"),
        s"$name prod form plans an exact count aggregate:\n$plan")
      assert(!plan.contains("InMemoryTableScan"),
        s"$name prod form caches an intermediate:\n$plan")
      assert(!plan.contains("row_number"),
        s"$name prod form plans the harness's exact-rank window:\n$plan")
    }
    // and the certified sketch halves share construction with these
    // plans: the bigram harness literally calls the prod form for its
    // picks; the heavy-hitters rolled side and the HLL rollup are the
    // same private builders — certify-then-drift is impossible
    CacheRegistry.releaseAll()
  }

  test("span gram index probe is PARTITION-PRUNED: DPP on pb, partitions read < P") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    // the v4 layout claim made physical: a micro-batch whose gram set
    // is smaller than P must scan ONLY the partitions its grams hash
    // into — dynamicpruningexpression on the partition column pb in
    // the plan, and the scan's partitions-read metric strictly below
    // the table's P. AQE off so the executed plan is directly
    // traversable for the scan node's metrics.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevDisabled = CacheRegistry.disabled
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // cache-cold so the index scan (and its metrics) sit in THIS
      // plan, not inside a tracked InMemoryRelation's cached plan —
      // the pruning itself fires identically in both modes
      CacheRegistry.disabled = true
      val P = 64
      val t = "graft_span_gram_dpp_spec_v5"
      Dedup.spanGramIndexCreateEmpty(spark, t, P)
      Dedup.spanGramIndexAppend(spark, t,
        Tables.documents(spark, Sf).filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), col("text")))
      // tiny arrival: one 60-char prefix → 11 grams → at most 11 of
      // the 64 partitions can match
      val tiny = Tables.documents(spark, Sf).filter(col("doc_id") % 10 === 0)
        .orderBy("doc_id").limit(1)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("text"))
      val probe = Dedup.spanDedupIncrementalCore(spark, t, tiny, 50)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"),
        s"index probe scan carries no DPP filter on pb:\n$plan")
      val scans = probe.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.tableIdentifier.exists(_.table == t) => s
      }
      assert(scans.nonEmpty, s"no FileSourceScan of $t in:\n$plan")
      val partsRead = scans.map(_.metrics("numPartitions").value).max
      assert(partsRead > 0 && partsRead < P,
        s"probe read $partsRead of $P partitions — pruning did not engage")
      // micro-probe row-group pushdown: the 11-gram set is inlined as
      // a pushed IN(g, ...) on the scan, which the (pb, g) file sort
      // turns into row-group min/max skipping inside the surviving
      // partitions (bytes measured in round 18; here
      // the plan contract — the filter must reach PushedFilters, not
      // just the post-scan Filter node)
      val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
      assert(pushed.contains("In(g,"),
        s"inline gram set not pushed to the parquet scan: $pushed")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      CacheRegistry.disabled = prevDisabled
    }
    CacheRegistry.releaseAll(blocking = true)
  }

  test("spanRebuild cut-list join degrades to a doc_id shuffle join past the broadcast threshold, identical cuts") {
    import org.apache.spark.sql.functions._
    // crawl-duplication regime: when cut-docs ≈ corpus, the per-doc
    // cut-list build side is corpus-sized and must NOT broadcast —
    // force the threshold down and assert the fallback is a doc_id
    // sort-merge join with bit-identical output (the two-shape
    // treatment the gram-shuffle tier already has)
    CacheRegistry.releaseAll()
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars_cut"), r.getAs[String]("cut_ranges"))
    val default = graft.operators.Dedup.spanDedupCore(docs, 50).collect()
    CacheRegistry.releaseAll()
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val degraded = graft.operators.Dedup.spanDedupCore(docs, 50)
      val degradedRows = degraded.collect()
      val plan = degraded.queryExecution.executedPlan.toString
      assert("SortMergeJoin.*doc_id#".r.findFirstIn(plan).isDefined,
        s"cut-list join did not degrade to a doc_id shuffle join:\n$plan")
      assert(!plan.contains("CartesianProduct"))
      assert(degradedRows.map(key).toSet == default.map(key).toSet,
        "degraded-join shape cuts differently from the broadcast shape")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    CacheRegistry.releaseAll()
  }
}
