package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Proof of the co-located-join layout: two tables bucketed on the
  * join key join with zero Exchange operators in the plan. */
class BucketingSpec extends SparkSpec {

  test("equi-join of co-bucketed tables plans without a shuffle") {
    val o = Tables.orders(spark, Sf).select("o_orderkey", "o_totalprice")
    val l = Tables.lineitem(spark, Sf).select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Sources.writeBucketed(o, "graft_orders_b", "o_orderkey", 8)
    Sources.writeBucketed(l, "graft_lineitem_b", "o_orderkey", 8)

    val joined = spark.table("graft_orders_b")
      .join(spark.table("graft_lineitem_b"), "o_orderkey")
      .groupBy()
      .agg(round(sum(col("o_totalprice") * col("l_quantity")), 2).as("weighted"))
    // disable broadcast so the join strategy itself is exercised
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    }
  }

  test("persisted corpus probe: bucketed scan + broadcast semi-join + distinct, zero shuffle") {
    import graft.operators.Dedup
    val (bandsT, _) = Dedup.corpusStateTables(spark, Sf)
    val bandKeys = Dedup.bandKeyCols(4)
    val keyCols = bandKeys.map(org.apache.spark.sql.functions.col)
    val shardKeys = spark.table(bandsT).select(keyCols: _*).limit(50).distinct()
      .collect() // freeze a small key set so the probe plan is self-contained
    val keysDf = spark.createDataFrame(
      spark.sparkContext.parallelize(shardKeys.toSeq, 1),
      spark.table(bandsT).select(keyCols: _*).schema)
    val probe = Dedup.probeCorpusKeys(spark, bandsT, keysDf, bandKeys)
    assert(probe.count() > 0)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"probe does not read the bucketed table:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"shard keys not broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus probe shuffles — bucketing not satisfying the distinct:\n$plan")
  }

  test("appendShardToCorpus closes the ingest loop: re-probed shard is all flagged dup") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    // distinct params from other tests → a private pair of state tables
    val shardMod = 7L
    val before = Dedup.dedupIncrementalPersisted(spark, Sf, shardMod = shardMod).collect()
    assert(before.nonEmpty)
    val shardIds = Tables.documents(spark, Sf)
      .filter(col("doc_id") % shardMod === 0).select("doc_id")
    Dedup.appendShardToCorpus(spark, Sf, shardIds, shardMod = shardMod)
    // after ingesting the shard into the corpus state, every shard doc
    // collides with itself: exact_dup and near_dup all true
    val after = Dedup.dedupIncrementalPersisted(spark, Sf, shardMod = shardMod).collect()
    assert(after.length == before.length)
    after.foreach { r =>
      assert(r.getAs[Boolean]("exact_dup"), s"doc ${r.get(0)} not exact after append")
      assert(r.getAs[Boolean]("near_dup"), s"doc ${r.get(0)} not near after append")
    }
  }

  test("compaction: merges append files per bucket, zero-Exchange rewrite, flags and probe plan unchanged") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val shardMod = 11L // params private to this test → private state tables
    def parquetFiles(t: String): Int = {
      val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
      val d = java.nio.file.Paths.get(wh, t.toLowerCase)
      val ls = java.nio.file.Files.list(d)
      try ls.iterator().asScala.count(_.toString.endsWith(".parquet")) finally ls.close()
    }
    val shardIds = Tables.documents(spark, Sf)
      .filter(col("doc_id") % shardMod === 0).select("doc_id")
    Dedup.dedupIncrementalPersisted(spark, Sf, shardMod = shardMod).collect() // builds state
    Dedup.appendShardToCorpus(spark, Sf, shardIds, shardMod = shardMod)
    val (bandsT, hashesT) = Dedup.corpusStateTables(spark, Sf, shardMod = shardMod)
    val filesAfterAppend = parquetFiles(bandsT)
    assert(filesAfterAppend > 8, s"append should add bucket files, saw $filesAfterAppend")
    val flagsBefore = Dedup.dedupIncrementalPersisted(spark, Sf, shardMod = shardMod).collect().toSeq
    // capture the rewrite's executed plan: the bucketed scan must feed
    // the identically-bucketed write with no Exchange in between
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add(e.physicalPlanDescription)
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Dedup.compactCorpusState(spark, Sf, shardMod = shardMod)
      // listener delivery is async; the two table rewrites are the
      // only WriteFiles plans in the window
      val deadline = System.nanoTime + 15L * 1000 * 1000 * 1000
      def rewrites = plans.asScala.filter(_.contains("WriteFiles")).toSeq
      while (rewrites.size < 2 && System.nanoTime < deadline) Thread.sleep(100)
      assert(rewrites.size >= 2, "rewrite plans not captured")
      rewrites.foreach { p =>
        assert(p.contains("Bucketed: true"), s"rewrite read is not bucket-aligned:\n$p")
        assert(!p.contains("Exchange"), s"compaction rewrite shuffles:\n$p")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // one file per bucket afterwards; results byte-identical
    assert(parquetFiles(bandsT) == 8, s"bands not compacted: ${parquetFiles(bandsT)} files")
    assert(parquetFiles(hashesT) == 8, s"hashes not compacted: ${parquetFiles(hashesT)} files")
    val flagsAfter = Dedup.dedupIncrementalPersisted(spark, Sf, shardMod = shardMod).collect().toSeq
    assert(flagsAfter == flagsBefore)
    // probe plan over the compacted table: still bucketed, still no shuffle
    val bandKeys = Dedup.bandKeyCols(4)
    val keysDf = spark.table(bandsT)
      .select(bandKeys.map(org.apache.spark.sql.functions.col): _*).limit(20).distinct()
    val plan = Dedup.probeCorpusKeys(spark, bandsT, keysDf, bandKeys)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true") && !plan.contains("Exchange hashpartitioning"),
      s"probe plan degraded after compaction:\n$plan")
    // retried ingest is a no-op: same shard appended again adds no files
    Dedup.appendShardToCorpus(spark, Sf, shardIds, shardMod = shardMod)
    assert(parquetFiles(bandsT) == 8 && parquetFiles(hashesT) == 8,
      "retried append grew the state tables — membership anti-join failed")
    assert(Dedup.dedupIncrementalPersisted(spark, Sf, shardMod = shardMod).collect().toSeq == flagsAfter)
  }

  test("append crash between the bands and hashes appends is repaired, not duplicated, on retry") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val shardMod = 19L // params private to this test → private state tables
    val (bandsT, hashesT) = Dedup.corpusStateTables(spark, Sf, shardMod = shardMod)
    val shardIds = Tables.documents(spark, Sf)
      .filter(col("doc_id") % shardMod === 0).select("doc_id")
    val nShard = shardIds.count()
    def bandRows = spark.table(bandsT).filter(col("doc_id") % shardMod === 0).count()
    def hashRows = spark.table(hashesT).filter(col("doc_id") % shardMod === 0).count()
    assert(nShard > 0 && bandRows == 0 && hashRows == 0)
    // crash AFTER the bands append lands, BEFORE the hashes append —
    // the window where a shared membership check (reading only the
    // hashes table) would re-append every band row on retry
    intercept[RuntimeException] {
      Dedup.appendShardToCorpus(spark, Sf, shardIds, shardMod = shardMod,
        afterBands = () => throw new RuntimeException("injected crash between appends"))
    }
    assert(bandRows == nShard * 8 && hashRows == 0) // 32 perms / 4 rows-per-band
    // retry fills in the missing hashes half WITHOUT duplicating bands
    Dedup.appendShardToCorpus(spark, Sf, shardIds, shardMod = shardMod)
    assert(bandRows == nShard * 8, "retry re-appended band rows for already-banded docs")
    assert(hashRows == nShard)
    // and a further retry is a full no-op
    Dedup.appendShardToCorpus(spark, Sf, shardIds, shardMod = shardMod)
    assert(bandRows == nShard * 8 && hashRows == nShard)
  }

  test("interrupted compaction swap: lookup restores the aside copy instead of rebuilding without appends") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val shardMod = 23L // params private to this test
    val shardIds = Tables.documents(spark, Sf)
      .filter(col("doc_id") % shardMod === 0).select("doc_id")
    val (_, hashesT) = Dedup.corpusStateTables(spark, Sf, shardMod = shardMod)
    Dedup.appendShardToCorpus(spark, Sf, shardIds, shardMod = shardMod)
    val nShard = shardIds.count()
    def appended = spark.table(hashesT).filter(col("doc_id") % shardMod === 0).count()
    assert(nShard > 0 && appended == nShard)
    // simulate a compaction that crashed between rename-aside and
    // rename-in: the live name is absent, the only complete copy
    // (appended shard included) sits under _compacting_old
    spark.sql(s"ALTER TABLE $hashesT RENAME TO ${hashesT}_compacting_old")
    val (_, hashesT2) = Dedup.corpusStateTables(spark, Sf, shardMod = shardMod)
    assert(hashesT2 == hashesT)
    assert(appended == nShard,
      "state was rebuilt from base docs — appended shard signatures silently lost")
  }

  test("dedup_incremental_persisted matches the recompute formulation row-for-row") {
    import graft.operators.Dedup
    val persisted = Dedup.dedupIncrementalPersisted(spark, Sf).collect()
    val recomputed = Dedup.dedupIncremental(spark, Sf).collect()
    assert(persisted.length == recomputed.length)
    persisted.zip(recomputed).foreach { case (p, r) => assert(p == r, s"$p != $r") }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    withTempDir("graft-dpp") { tmp =>
      val base = tmp.toString
      // fact partitioned on pkey (10 directories)
      Sources.writeParquet(
        Tables.orders(spark, Sf).withColumn("pkey", pmod(col("o_custkey"), lit(10))),
        s"$base/fact", partitionBy = Seq("pkey"))
      // dim: (pkey, grp) — the selective filter is on grp, NOT pkey, so
      // static pruning can't apply and the pkey set is only known at run
      // time, exactly the 100 TB star-join shape DPP exists for.
      Sources.writeParquet(
        spark.range(10).select(col("id").as("pkey"), (col("id") % 5).as("grp")),
        s"$base/dim")
      val fact = Sources.parquet(spark, s"$base/fact")
      val dim = Sources.parquet(spark, s"$base/dim").filter(col("grp") === 0)
      val joined = fact.join(dim, "pkey").groupBy()
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("rev"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"),
        s"expected a runtime partition-pruning subquery in the fact scan:\n$plan")
    }
  }

  test("persisted IVF index: identical results to the inline path, partition-pruned scan") {
    import graft.operators.Similarity
    val inline = Similarity.simIvfAnn(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val persisted = Similarity.simIvfAnnPersisted(spark, Sf)
    val got = persisted.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // same codebook + tie order → row-identical, which is what lets
    // the entry share sim_ivf_ann's DuckDB oracle verbatim
    assert(got == inline,
      s"persisted-index ANN diverged from the inline path: ${got.diff(inline).take(3)}")
    // the index scan must be pruned to the probed cells at runtime:
    // the probe side is only known after the per-query top-nprobe
    // ranking, so this is DPP, not static pruning
    val plan = persisted.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected the probe join to runtime-prune the index partitions:\n$plan")
  }

  test("SQ8 index serving scan is partition-pruned to the probed cells") {
    import graft.operators.Similarity
    val served = Similarity.simIvfSq8(spark, Sf)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected the probe join to runtime-prune the SQ8 index partitions:\n$plan")
  }
}
