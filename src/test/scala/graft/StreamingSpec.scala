package graft

import graft.operators.Dedup
import graft.streaming.{EventStream, GraphIngest, StreamingIngest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("windowed streaming agg matches the batch q13 twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val query = EventStream.windowedCounts(events)
      .writeStream.format("memory").queryName("windowed")
      .outputMode("complete").start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (ts("2024-01-01 10:00:00"), "click", 1.0),
      (ts("2024-01-01 11:00:00"), "click", 2.0),
      (ts("2024-01-02 09:00:00"), "view", 5.0))
    query.processAllAvailable()
    input.addData((ts("2024-01-01 23:00:00"), "click", 4.0))
    query.processAllAvailable()

    val out = spark.table("windowed").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("day").toString, r.getAs[String]("event_type"),
        r.getAs[Long]("cnt"), r.getAs[Double]("total")))
      .toSet
    query.stop()
    assert(out == Set(
      ("2024-01-01 00:00:00.0", "click", 3L, 7.0),
      ("2024-01-02 00:00:00.0", "view", 1L, 5.0)))
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val deduped = input.toDF().toDF("event_id", "ts", "value")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val query = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-01 10:00:05"), 2.0))
    query.processAllAvailable()
    // replay of id 1 (late duplicate) + a fresh id
    input.addData((1L, ts("2024-01-01 10:00:30"), 9.9), (3L, ts("2024-01-01 10:01:00"), 3.0))
    query.processAllAvailable()
    val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted
    query.stop()
    assert(ids.sameElements(Array(1L, 2L, 3L)))
  }

  test("stream-stream interval join pairs purchases with in-window clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = EventStream.purchaseClickJoin(
      purchases.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts", "value"))
    val query = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    clicks.addData((1L, ts("2024-01-01 09:30:00"), 1.0),  // in window
      (1L, ts("2024-01-01 07:00:00"), 2.0),               // too old
      (2L, ts("2024-01-01 09:45:00"), 3.0))               // other user
    purchases.addData((1L, ts("2024-01-01 10:00:00")))
    query.processAllAvailable()
    val out = spark.table("ssj").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("click_value")))
    query.stop()
    assert(out.toSeq == Seq((1L, 1.0)))
  }

  test("windowed agg state survives a query restart via checkpoint (file source)") {
    import org.apache.spark.sql.types._
    withTempDir("graft-ckpt") { tmp =>
      val base = tmp.toString
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(
        StructField("ts", TimestampType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      def writeBatch(rows: Seq[(String, String, Double)]): Unit = {
        import spark.implicits._
        rows.map { case (t, e, v) => (java.sql.Timestamp.valueOf(t), e, v) }
          .toDF("ts", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      def startQuery() = EventStream.windowedCounts(
        spark.readStream.schema(schema).parquet(srcDir))
        .writeStream.format("memory").queryName("ckpt_windowed")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()

      writeBatch(Seq(("2024-01-01 10:00:00", "click", 1.0)))
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      // new data lands while the query is DOWN; the restarted query must
      // resume from the checkpoint and fold it into existing state
      writeBatch(Seq(("2024-01-01 11:00:00", "click", 2.0),
        ("2024-01-02 09:00:00", "view", 5.0)))
      val q2 = startQuery()
      q2.processAllAvailable()
      val out = spark.table("ckpt_windowed").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("day").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("cnt"), r.getAs[Double]("total"))).toSet
      q2.stop()
      assert(out == Set(
        ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
        ("2024-01-02 00:00:00.0", "view", 1L, 5.0)))
    }
  }

  test("sessionization closes sessions on gap and keeps state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val query = EventStream.sessionize(input.toDS(), gapMs = 60000)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    def ev(uid: Long, s: String) =
      EventStream.Event(uid, java.sql.Timestamp.valueOf(s), "click", 1.0)
    // user 1: two events 10s apart (one session), then a 10-min gap → closes it
    input.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:10"))
    query.processAllAvailable()
    input.addData(ev(1, "2024-01-01 10:10:00"))
    query.processAllAvailable()

    val sessions = spark.table("sessions").as[EventStream.Session].collect()
    query.stop()
    assert(sessions.length == 1)
    assert(sessions.head.n_events == 2)
    assert(sessions.head.end_ms - sessions.head.start_ms == 10000)
  }

  test("statestore reader exposes windowed-agg state from a checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft-state-read") { tmp =>
      val ckpt = tmp.toString
      val input = MemoryStream[(java.sql.Timestamp, String, Double)]
      val events = input.toDF().toDF("ts", "event_type", "value")
      val query = EventStream.windowedCounts(events)
        .writeStream.format("memory").queryName("state_read_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 10:00:00"), "click", 1.0),
        (ts("2024-01-02 09:00:00"), "view", 5.0))
      query.processAllAvailable()
      query.stop()
      // the state data source reads the aggregation operator's store
      // offline — the ops/debugging surface for long-running queries
      val state = spark.read.format("statestore").option("path", ckpt).load()
      val types = state.select("key.event_type").as[String].collect().toSet
      assert(types == Set("click", "view"), s"state keys: $types")
    }
  }

  test("transformWithState running user stats accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState needs the RocksDB provider (multi-column-family state)
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val input = MemoryStream[EventStream.Event]
      val query = EventStream.runningUserStats(input.toDS())
        .writeStream.format("memory").queryName("user_stats")
        .outputMode("update").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        EventStream.Event(1L, ts("2024-01-01 10:00:00"), "click", 2.0),
        EventStream.Event(1L, ts("2024-01-01 10:01:00"), "click", 3.0),
        EventStream.Event(2L, ts("2024-01-01 10:02:00"), "view", 7.0))
      query.processAllAvailable()
      input.addData(EventStream.Event(1L, ts("2024-01-01 10:05:00"), "buy", 5.0))
      query.processAllAvailable()
      // update mode appends one row per (batch, key); the LAST row per
      // key is the accumulated state
      val rows = spark.table("user_stats").as[EventStream.UserStats].collect()
      query.stop()
      val last = rows.zipWithIndex.groupBy(_._1.user_id)
        .map { case (k, v) => k -> v.maxBy(_._2)._1 }
      assert(last(1L).n_events == 3 && math.abs(last(1L).total_value - 10.0) < 1e-9)
      assert(last(2L).n_events == 1 && math.abs(last(2L).total_value - 7.0) < 1e-9)
    }
  }

  test("stream-static vector serving equals the batch serve over the same queries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{IvfCodebook, Similarity}
    withTempDir("graft-vserve") { tmp =>
      val base = tmp.toString
      val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      // query vectors ARE the first five corpus vectors — the exact set
      // the batch operator serves, split across two micro-batches
      val qvecs = Tables.embeddings(spark, Sf)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .filter(col("vec_id") < 5)
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      val input = MemoryStream[(Long, Seq[Double])]
      val queries = input.toDF().toDF("vec_id", "v")
      val query = graft.streaming.VectorServe.serveStream(Sf, queries, outDir, ckpt)
      input.addData(qvecs.take(3).toSeq)
      query.processAllAvailable()
      input.addData(qvecs.drop(3).toSeq)
      query.processAllAvailable()
      query.stop()
      val streamed = spark.read.parquet(s"$outDir/batch_id=*").collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
      val batch = Similarity.serveFromIndex(spark, Sf,
          Similarity.ivfIndexTable(spark, Sf), nQueries = 5, k = 10,
          nprobe = 4, IvfCodebook.centroids).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
      assert(streamed == batch,
        s"streamed serve diverges from batch serve: " +
          s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
      assert(streamed.nonEmpty)
    }
  }

  test("stream-static graph serving equals the batch walk over the same queries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    withTempDir("graft-gserve") { tmp =>
      val base = tmp.toString
      val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      // query vectors ARE the first five corpus vectors — the exact set
      // the batch registry query serves, split across two micro-batches
      val qvecs = Tables.embeddings(spark, Sf)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .filter(col("vec_id") < 5)
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      val input = MemoryStream[(Long, Seq[Double])]
      val queries = input.toDF().toDF("vec_id", "v")
      val query = graft.streaming.VectorServe.graphServeStream(Sf, queries, outDir, ckpt)
      input.addData(qvecs.take(3).toSeq)
      query.processAllAvailable()
      input.addData(qvecs.drop(3).toSeq)
      query.processAllAvailable()
      query.stop()
      val streamed = spark.read.parquet(s"$outDir/batch_id=*").collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
      val batch = Similarity.simGraphSearch(spark, Sf).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
      assert(streamed == batch,
        s"streamed graph serve diverges from the batch walk: " +
          s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
      assert(streamed.nonEmpty)

      // the 100 TB informed form: per-batch seed derivation reads only
      // the persisted artifact (mates + fallback sample) — results must
      // equal the inline informed batch walk (the artifact is derived
      // state, so table-fed ≡ inline carries over to micro-batches)
      val outDir2 = s"$base/out2"; val ckpt2 = s"$base/ckpt2"
      val input2 = MemoryStream[(Long, Seq[Double])]
      val q2 = graft.streaming.VectorServe.graphServeStream(Sf,
        input2.toDF().toDF("vec_id", "v"), outDir2, ckpt2,
        informedFromTable = true)
      input2.addData(qvecs.take(2).toSeq)
      q2.processAllAvailable()
      input2.addData(qvecs.drop(2).toSeq)
      q2.processAllAvailable()
      q2.stop()
      val streamedTf = spark.read.parquet(s"$outDir2/batch_id=*").collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
      val graphT = Similarity.knnGraphTable(spark, Sf, 10, 3)
      val corpus = Tables.embeddings(spark, Sf)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
      val batchInformed = Similarity.graphSearchCore(
        spark.table(graphT).select(col("vec_id").as("ga"), col("nbr_id").as("gb")),
        corpus, corpus.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv")),
        k = 10, beam = 20, hops = 3, informedSeeds = true).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))).toSet
      assert(streamedTf == batchInformed,
        s"table-fed streamed informed serve diverges from the inline informed batch walk: " +
          s"extra=${(streamedTf -- batchInformed).take(3)} " +
          s"missing=${(batchInformed -- streamedTf).take(3)}")
      val seedT = Similarity.lshSeedTable(spark, Sf)
      spark.sql(s"DROP TABLE IF EXISTS $seedT")
    }
  }

  test("graph serving sees a mid-stream compliance forget on the NEXT batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    withTempDir("graft-gserve-forget") { tmp =>
      val base = tmp.toString
      val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val qvecs = Tables.embeddings(spark, Sf)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .filter(col("vec_id") < 3)
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      val input = MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.VectorServe.graphServeStream(Sf,
        input.toDF().toDF("vec_id", "v"), outDir, ckpt)
      input.addData(qvecs.toSeq)
      q.processAllAvailable()
      def served(b: Int) = spark.read.parquet(s"$outDir/batch_id=$b")
        .select("qid", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val served0 = served(0)
      // compliance job runs from the OUTER session mid-stream: forget a
      // vector batch 0 actually served — without the per-batch
      // refreshTable, the serving session's cached file listing either
      // keeps serving the pre-forget graph or crashes on the files the
      // StagedRewrite swap deleted
      val victim = served0.map(_._3).find(id => !qvecs.map(_._1).contains(id)).get
      val table = Similarity.knnGraphTable(spark, Sf)
      Similarity.knnGraphForget(spark, table, Seq(victim).toDF("vec_id"))
      input.addData(qvecs.toSeq) // same queries again → batch 1
      q.processAllAvailable()
      q.stop()
      val served1 = served(1)
      // contract: each batch serves the graph AS CURRENTLY PERSISTED —
      // batch 1 must equal the batch walk over the post-forget table
      // (seeds still come from the immutable corpus, so set equality
      // with the fresh walk is the exact claim, not victim-absence)
      val corpus = Tables.embeddings(spark, Sf)
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      val queriesDf = qvecs.toSeq.toDF("vec_id", "v")
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val expected1 = Similarity.graphSearchCore(
          spark.table(table).select(col("vec_id").as("ga"), col("nbr_id").as("gb")),
          corpus, queriesDf, 10, 20, 3).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSet
      assert(served1 == expected1,
        s"post-forget batch serves a stale graph: extra=${(served1 -- expected1).take(3)} " +
          s"missing=${(expected1 -- served1).take(3)}")
      assert(served1 != served0, "forget changed nothing — the staleness check is vacuous")
      // the test mutated the shared registry graph artifact — retire it
      // so the next consumer rebuilds deterministically from the corpus
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_sup")
      graft.sources.Sources.clearOrphanedLocation(spark, table)
      CacheRegistry.releaseAll()
    }
  }

  test("stream-static incremental dedup flags arrivals against the corpus table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, Sf)
    // two real corpus texts (one per batch) + two fresh ones
    val known = corpus.orderBy("doc_id").select("text").as[String].take(2)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = EventStream.incrementalDedupStream(docs, corpus)
      .writeStream.format("memory").queryName("inc_dedup_stream")
      .outputMode("append").start()
    input.addData((1000L, known(0)), (1001L, "certainly not in the corpus"))
    query.processAllAvailable()
    input.addData((1002L, known(1)), (1003L, "also nowhere in the corpus"))
    query.processAllAvailable()
    val flags = spark.table("inc_dedup_stream").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    query.stop()
    assert(flags == Map(1000L -> true, 1001L -> false, 1002L -> true, 1003L -> false))
  }

  test("deduped ingest loop: persisted-state dedup + exactly-once sink + corpus append, crash-safe") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val shardMod = 13L // params private to this test → private state tables
    withTempDir("graft-ingest") { tmp =>
      val base = tmp.toString
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
      new java.io.File(srcDir).mkdirs()

      val docs = Tables.documents(spark, Sf).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val shard = docs.filter(_._1 % shardMod == 0).sortBy(_._1)
      val corpusDocs = docs.filter(_._1 % shardMod != 0).sortBy(_._1)
      // 3 arrival batches. Batch 0 also carries two texts ALREADY IN THE
      // CORPUS under fresh synthetic ids (upstream scraped a known doc
      // again) — rejected by the state probe. Batch 2 RE-DELIVERS two of
      // batch 0's docs (an at-least-once upstream) — by then their
      // signatures sit in the state, so they are rejected as the
      // duplicates they are.
      val corpusDups = corpusDocs.take(2).map { case (_, t) => (7000000L, t) }
        .zipWithIndex.map { case ((id, t), i) => (id + i, t) }
      // batch 2 ALSO redelivers an accepted doc_id under MUTATED text
      // (an upstream re-scrape that changed) — the id-level gate must
      // drop it: the old hash-only gate emitted it to the sink while
      // appendShardDocs silently dropped its signature (sink/state
      // divergence), which out.distinct below would catch as a dup id
      val mutated = shard.head match { case (id, t) => (id, t + " MUTATED RESCRAPE") }
      val batches = Seq(
        shard.zipWithIndex.filter(_._2 % 3 == 0).map(_._1) ++ corpusDups,
        shard.zipWithIndex.filter(_._2 % 3 == 1).map(_._1),
        shard.zipWithIndex.filter(_._2 % 3 == 2).map(_._1) ++
          shard.zipWithIndex.filter(_._2 % 3 == 0).map(_._1).take(2) :+ mutated)
      // no exact-dup texts exist inside the corpus table at this SF, so
      // every real shard doc is accepted exactly once; the rejections
      // are the corpus-dup arrivals and the re-deliveries
      val expected = shard.map(_._1).toSet
      assert(corpusDups.size == 2 && expected.size >= 30)

      val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
      def writeSrc(rows: Seq[(Long, String)]): Unit = {
        import spark.implicits._
        rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
      }
      def src = spark.readStream.schema(schema).parquet(srcDir)
      Dedup.corpusStateTables(spark, Sf, shardMod = shardMod) // build state once

      // batch 0 clean; batch 1 crashes AFTER the sink write and corpus
      // append but BEFORE the commit — the worst replay window
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      writeSrc(batches(0))
      val q1 = StreamingIngest.dedupedIngest(Sf, src, outDir, ckpt, shardMod = shardMod,
        afterBatch = { id =>
          if (id >= 1 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after all effects, before commit")
        })
      q1.processAllAvailable()
      writeSrc(batches(1))
      try { q1.processAllAvailable(); q1.awaitTermination() } catch { case _: Exception => () }
      assert(crashed.get, "crash injection never fired")

      val q2 = StreamingIngest.dedupedIngest(Sf, src, outDir, ckpt, shardMod = shardMod)
      q2.processAllAvailable() // replays batch 1
      writeSrc(batches(2))
      q2.processAllAvailable()
      // batch 3: a corpus doc is TOMBSTONED (compliance deletion pending
      // purge) and a NEW id arrives carrying exactly its text — the
      // tombstone-aware gate must ACCEPT it (the never-ingested
      // contract); the physically-present signature used to suppress it
      val (tombId, tombText) = corpusDocs(2)
      Dedup.forgetFromCorpus(spark, Sf,
        { import spark.implicits._; Seq(tombId).toDF("doc_id") },
        shardMod = shardMod)
      writeSrc(Seq((7200000L, tombText)))
      q2.processAllAvailable()
      // batch 5: the TOMBSTONED id itself re-arrives carrying brand-new
      // text. The id-level gate is deliberately NOT tombstone-aware (its
      // signature row is physically still in state, and the id is not
      // servable while a deletion on it is pending), so the arrival
      // stays suppressed until the physical purge...
      writeSrc(Seq((tombId, tombText + " REWRITTEN BEFORE PURGE")))
      q2.processAllAvailable()
      // ...and AFTER purgeCorpusTombstones removes the id's rows from
      // state, the same id with new text is a fresh document and lands —
      // the documented remedy path. This pins the asymmetry with the
      // hash gate so an edit cannot silently flip it.
      Dedup.purgeCorpusTombstones(spark, Sf, shardMod = shardMod)
      writeSrc(Seq((tombId, tombText + " REWRITTEN AFTER PURGE")))
      q2.processAllAvailable()
      q2.stop()
      val tombSunk = spark.read.parquet(outDir)
        .filter(col("doc_id") === tombId).select("text")
        .collect().map(_.getString(0)).toSeq
      assert(tombSunk == Seq(tombText + " REWRITTEN AFTER PURGE"),
        s"tombstoned id must stay suppressed until purge, then be accepted: $tombSunk")
      val expectedFinal = expected + 7200000L + tombId

      val outRows = spark.read.parquet(outDir).select("doc_id", "batch_id")
        .collect().map(r => (r.getLong(0), r.getAs[Number]("batch_id").longValue))
      val out = outRows.map(_._1).toSeq
      assert(out.distinct.size == out.size, s"sink has duplicates: $out")
      assert(out.toSet == expectedFinal,
        s"missing ${expectedFinal -- out.toSet}, extra ${out.toSet -- expectedFinal}")
      // re-delivered docs stayed under their FIRST batch's partition
      val redelivered = shard.zipWithIndex.filter(_._2 % 3 == 0).map(_._1._1).take(2)
      redelivered.foreach { id =>
        assert(outRows.find(_._1 == id).get._2 == 0L, s"doc $id rewritten by a later batch")
      }
      // corpus-dup arrivals never made it in
      assert(!out.contains(7000000L) && !out.contains(7000001L))
      // ...while the tombstone-freed text DID land under its new id
      assert(out.contains(7200000L), "tombstoned text still suppresses a fresh arrival")
      // the corpus state holds each accepted doc's signature exactly once
      val (_, hashesT) = Dedup.corpusStateTables(spark, Sf, shardMod = shardMod)
      val appended = spark.table(hashesT)
        .filter(col("doc_id") % shardMod === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(appended.distinct.size == appended.size, "state has duplicate signatures")
      assert(appended.toSet == expected)
    }
  }

  test("exactly-once sink: crash between write and commit, restart, no dup/loss") {
    import org.apache.spark.sql.types._
    withTempDir("graft-e1s") { tmp =>
      val base = tmp.toString
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
      def writeSrc(ids: Range): Unit = {
        import spark.implicits._
        ids.map(i => (i.toLong, i * 1.5)).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      def src = spark.readStream.schema(schema).parquet(srcDir)

      writeSrc(1 to 3)
      // arm a one-shot crash AFTER batch 1's write lands but BEFORE the
      // commit log records it — the at-least-once window made visible
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q1 = EventStream.exactlyOnceSink(src, outDir, ckpt, afterWrite = { id =>
        if (id >= 1 && crashed.compareAndSet(false, true))
          throw new RuntimeException("injected crash after write, before commit")
      })
      q1.processAllAvailable() // batch 0 commits clean
      writeSrc(4 to 6)         // batch 1: write lands, then the injected crash
      try { q1.processAllAvailable(); q1.awaitTermination() }
      catch { case _: Exception => () }
      assert(crashed.get, "crash injection never fired")
      // the orphaned batch_id=1 partition exists on disk — a naive append
      // sink would now duplicate rows 4-6 on replay
      assert(new java.io.File(outDir, "batch_id=1").exists)

      // restart from the same checkpoint: batch 1 replays with the SAME
      // id and data; dynamic overwrite rewrites only its own partition
      val q2 = EventStream.exactlyOnceSink(src, outDir, ckpt)
      q2.processAllAvailable()
      writeSrc(7 to 9)         // batch 2, post-recovery
      q2.processAllAvailable()
      q2.stop()

      val out = spark.read.parquet(outDir)
      val ids = out.select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (1L to 9L), s"expected exactly 1..9, got $ids") // no dup, no loss
      assert(out.select("batch_id").distinct().count() == 3)
    }
  }

  test("replay of a fully-redelivered (empty-accept) batch recovers instead of wedging the stream") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    // a batch whose docs are ALL rejected commits a partition holding
    // _SUCCESS and zero data files; if a crash then lands before the
    // commit-log record, every replay re-reads that partition — a
    // schema-inference read would throw there forever (poison pill)
    val shardMod = 29L // params private to this test → private state tables
    withTempDir("graft-emptyb") { tmp =>
      val base = tmp.toString
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
      new java.io.File(srcDir).mkdirs()
      val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
      def writeSrc(rows: Seq[(Long, String)]): Unit = {
        import spark.implicits._
        rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
      }
      def src = spark.readStream.schema(schema).parquet(srcDir)
      Dedup.corpusStateTables(spark, Sf, shardMod = shardMod) // build state once
      val docs = Tables.documents(spark, Sf).filter(col("doc_id") % shardMod === 0)
        .select("doc_id", "text").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).take(6).toSeq
      assert(docs.nonEmpty)

      // batch 0 accepts the docs; batch 1 is a FULL re-delivery (accepted
      // set empty) and crashes after all effects, before the commit
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      writeSrc(docs)
      val q1 = StreamingIngest.dedupedIngest(Sf, src, outDir, ckpt, shardMod = shardMod,
        afterBatch = { id =>
          if (id >= 1 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash on the empty-accept batch")
        })
      q1.processAllAvailable()
      writeSrc(docs) // full re-delivery → empty accepted set
      try { q1.processAllAvailable(); q1.awaitTermination() } catch { case _: Exception => () }
      assert(crashed.get, "crash injection never fired")
      val emptyPart = new java.io.File(outDir, "batch_id=1")
      assert(emptyPart.exists && new java.io.File(emptyPart, "_SUCCESS").exists)
      // whether an empty write leaves zero part files or one empty part
      // file is plan-dependent (AQE empty-relation propagation) — force
      // the worst shape, _SUCCESS with NO data files, which is the same
      // empty accepted set either way
      emptyPart.listFiles.filter(_.getName.endsWith(".parquet")).foreach(f => assert(f.delete()))
      assert(!emptyPart.listFiles.exists(_.getName.endsWith(".parquet")))

      // restart: batch 1 must replay as an empty-manifest no-op, then the
      // stream must keep processing new arrivals
      val q2 = StreamingIngest.dedupedIngest(Sf, src, outDir, ckpt, shardMod = shardMod)
      q2.processAllAvailable()
      writeSrc(Seq((9000001L, "a genuinely new document for the recovery batch")))
      q2.processAllAvailable()
      q2.stop()
      val out = spark.read.parquet(outDir).select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(out.distinct.size == out.size, s"sink has duplicates: $out")
      assert(out.toSet == docs.map(_._1).toSet + 9000001L,
        s"stream did not recover past the empty-accept replay: $out")
    }
  }

  test("streaming histogram partials merge across micro-batches to the batch histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the pipe_quantile_rollup mergeability contract under streaming:
    // per-micro-batch (lang, source, bin) counts are the stored
    // partial; summing them across batches and rolling up per lang
    // must equal the whole-corpus histogram — bins ADD, so a
    // streaming ingest can maintain the quantile sketch incrementally
    // without ever rescanning history
    val batchHist = Tables.documents(spark, Sf)
      .groupBy(col("lang"), expr("n_chars DIV 256").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = Tables.documents(spark, Sf).select("doc_id", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    val input = MemoryStream[(Long, String, String, Long)]
    val partials = scala.collection.mutable.Map[(String, String, Long), Long]()
    val q = input.toDF().toDF("doc_id", "lang", "source", "n_chars").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.groupBy(col("lang"), col("source"), expr("n_chars DIV 256").as("bin"))
          .agg(count(lit(1)).as("cnt")).collect().foreach { r =>
            val k = (r.getString(0), r.getString(1), r.getLong(2))
            partials(k) = partials.getOrElse(k, 0L) + r.getLong(3)
          }
      }
      .outputMode("append").start()
    val third = docs.length / 3
    input.addData(docs.take(third)); q.processAllAvailable()
    input.addData(docs.slice(third, 2 * third)); q.processAllAvailable()
    input.addData(docs.drop(2 * third)); q.processAllAvailable()
    q.stop()
    val rolled = partials.toSeq
      .groupBy { case ((l, _, b), _) => (l, b) }
      .map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(rolled == batchHist, "streamed-merged histogram diverges from batch")
  }

  test("streaming gopher gate per micro-batch equals the batch gate (per-doc rules)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the gate's rules are per-document, so foreachBatch application
    // over any batch split must reproduce the whole-corpus batch gate
    val batchOut = graft.operators.TextAnalysis.pipeGopherGate(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("reasons"), r.getAs[Boolean]("keep"))).toMap
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.Map[Long, (Long, Boolean)]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.TextAnalysis.gopherGateFrame(b).collect().foreach { r =>
          seen(r.getAs[Long]("doc_id")) = (r.getAs[Long]("reasons"), r.getAs[Boolean]("keep"))
        }
      }
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    assert(seen.size == batchOut.size)
    assert(seen.toMap == batchOut, "streamed gate diverges from batch gate")
  }

  test("span-cut ingest loop: first batch equals the batch operator, retained-text indexing, crash-safe replay") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val n = 50
    withTempDir("graft-spaningest") { tmp =>
      val base = tmp.toString
      val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      new java.io.File(srcDir).mkdirs()
      // synthetic corpus/arrivals with exact span control (distinct
      // chars around every planted span so coverage = the span itself)
      val s1 = "the quick brown fox jumps over the lazy dog once more!!!!" // 58 chars
      val s2 = "completely different boilerplate shared by two arrivals.." // 58
      val t1 = "unique trailing content of document one hundred, kept intact." // survives in D1
      assert(Seq(s1, s2, t1).forall(_.length >= n))
      val corpusDoc = (1L, "corpus filler before:" + s1 + ":corpus filler after")
      val d1 = (100L, "lead-in one/" + s1 + "_" + t1)   // s1 cut (repeats vs corpus), t1 retained
      val d2 = (101L, "lead-in two=" + s2 + "-tail two distinct and long enough here")
      val d3 = (102L, "lead-in three+" + s2 + "~tail three also distinct and long")
      val d4 = (103L, "arrival four<" + s2 + ">then|" + t1 + "|end four") // s2 NOT cut (gone from retained corpus), t1 cut
      import spark.implicits._
      val specT = "graft_span_gram_stream_spec_n50_v5"
      val refT = "graft_span_gram_stream_ref_n50_v5"
      Seq(specT, refT).foreach(t => Dedup.spanGramIndexCreateEmpty(spark, t, 8))
      val corpusDf = Seq(corpusDoc).toDF("doc_id", "text")
      Dedup.spanGramIndexAppend(spark, specT, corpusDf, n)
      Dedup.spanGramIndexAppend(spark, refT, corpusDf, n)
      // reference for batch 0: the batch operator against the same index
      val b0 = Seq(d1, d2, d3).toDF("doc_id", "text")
      def keyed(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans_cut"),
          r.getAs[Long]("n_chars_cut"), r.getAs[String]("cut_ranges"),
          r.getAs[String]("clean_text"))).toSet
      val expected0 = keyed(Dedup.spanDedupIncrementalCore(spark, refT, b0, n)
        .select(col("doc_id"), col("n_spans_cut"), col("n_chars_cut"),
          col("cut_ranges"), col("clean_text")).collect())
      def writeSrc(df: org.apache.spark.sql.DataFrame): Unit =
        df.coalesce(1).write.mode("append").parquet(srcDir)
      def src = spark.readStream.schema(b0.schema).parquet(srcDir)
      // batch 0 with an injected crash AFTER all effects, BEFORE commit
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      writeSrc(b0)
      val q1 = graft.streaming.SpanIngest.spanCutIngest(src, specT, outDir, ckpt, n,
        afterBatch = { id =>
          if (id >= 0 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after all effects, before commit")
        })
      try { q1.processAllAvailable(); q1.awaitTermination() } catch { case _: Exception => () }
      assert(crashed.get, "crash injection never fired")
      // restart: batch 0 replays as a manifest no-op; batch 1 carries a
      // REDELIVERED d1 plus the retained-text probe d4
      val q2 = graft.streaming.SpanIngest.spanCutIngest(src, specT, outDir, ckpt, n)
      q2.processAllAvailable()
      writeSrc(Seq(d4, d1).toDF("doc_id", "text"))
      q2.processAllAvailable()
      q2.stop()
      // batch 0 output: exactly the batch operator's answer (s1 cut from
      // d1, s2 cut from both d2 and d3), despite the crash replay
      val got0 = keyed(spark.read.parquet(s"$outDir/batch_id=0")
        .select(col("doc_id"), col("n_spans_cut"), col("n_chars_cut"),
          col("cut_ranges"), col("clean_text")).collect())
      assert(got0 == expected0,
        s"streamed batch 0 diverges from the batch operator: got $got0")
      // the never-silent exclusion flag must reach the production sink
      assert(spark.read.parquet(s"$outDir/batch_id=0").columns.contains("lc_stable"),
        "committed batch partition lost the lc_stable flag")
      assert(got0.forall(_._2 > 0), "every batch-0 doc carried a planted repeated span")
      // batch 1: the redelivered d1 is dropped; d4 loses t1 (retained in
      // d1's cleaned text and indexed) but KEEPS s2 (cut from every
      // retained copy — the retained-corpus-relative semantics)
      val got1 = spark.read.parquet(s"$outDir/batch_id=1").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(got1.keySet == Set(103L),
        s"batch 1 must emit only the fresh arrival, got ${got1.keySet}")
      val cleaned4 = got1(103L).getAs[String]("clean_text")
      assert(cleaned4.contains(s2),
        "s2 was cut from d4 although no retained copy exists — retained-text semantics broken")
      assert(!cleaned4.contains(t1),
        "t1 survives in d4 although d1's retained copy is indexed")
      // exactly-once state: the index equals a one-shot reference append
      // of (corpus, cleaned batch 0, cleaned batch 1) — no double counts
      // from the crash replay, no rows for the redelivered doc
      Dedup.spanGramIndexAppend(spark, refT, spark.read.parquet(s"$outDir/batch_id=0")
        .select(col("doc_id"), col("clean_text").as("text")), n)
      Dedup.spanGramIndexAppend(spark, refT, spark.read.parquet(s"$outDir/batch_id=1")
        .select(col("doc_id"), col("clean_text").as("text")), n)
      def indexSum(t: String) = spark.table(t)
        .groupBy(col("doc_id"), col("g"), hex(col("sh")).as("shx"))
        .agg(sum("df").as("df")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getAs[Long]("df")).toMap
      assert(indexSum(specT) == indexSum(refT),
        "streamed index diverges from the one-shot reference (double count or loss)")
      Seq(specT, refT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      CacheRegistry.releaseAll()
    }
  }

  test("knn graph streaming ingest: corpus + graph maintained per batch, crash-safe, redelivery no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val k = 10
    withTempDir("graft-gingest") { tmp =>
      val base = tmp.toString
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
      new java.io.File(srcDir).mkdirs()
      val full = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
      val seed = full.filter(col("vec_id") % 10 =!= 0)
      val b0 = full.filter(col("vec_id") % 20 === 0)
      val b1 = full.filter(col("vec_id") % 20 === 10)
      val corpusT = "graft_knn_stream_corpus_spec"
      val graphT = "graft_knn_stream_graph_spec"
      val refT = "graft_knn_stream_graph_ref"
      val seedT = "graft_knn_stream_seed_spec_p9_v1" // lshSeedAppend-shaped name
      Seq(corpusT, graphT, refT, seedT).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        graft.sources.Sources.clearOrphanedLocation(spark, t)
      }
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("t",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("bk",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("b",
              org.apache.spark.sql.types.LongType))))
        .write.format("parquet").saveAsTable(seedT)
      Similarity.lshSeedAppend(spark, seedT, seed) // base entry points
      seed.write.format("parquet").saveAsTable(corpusT)
      val baseGraph = Similarity.knnDescentConverged(spark, seed, k)
        .localCheckpoint() // one descent, two identical table writes
      baseGraph.write.format("parquet").saveAsTable(graphT)
      baseGraph.write.format("parquet").saveAsTable(refT)
      // reference: the SAME batch sequence applied directly — append is
      // deterministic, so the streamed tables must land byte-identical
      Similarity.knnGraphAppend(spark, refT, seed.union(b0), k)
      Similarity.knnGraphAppend(spark, refT, full, k)
      val expected = spark.table(refT).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("nbr_id"), r.getAs[Double]("cosine"))).toSet

      def writeSrc(df: org.apache.spark.sql.DataFrame): Unit =
        df.coalesce(1).write.mode("append").parquet(srcDir)
      def src = spark.readStream.schema(full.schema).parquet(srcDir)

      // batch 0 applies ALL effects (corpus append + graph swap), then
      // the injected crash lands before the commit log — the worst
      // window; the replay must be a no-op end to end because both
      // effects are idempotent by key
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      writeSrc(b0)
      val q1 = GraphIngest.knnGraphIngest(src, corpusT, graphT, ckpt, k = k,
        seedTable = Some(seedT),
        afterBatch = { id =>
          if (id >= 0 && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after all effects, before commit")
        })
      try { q1.processAllAvailable(); q1.awaitTermination() } catch { case _: Exception => () }
      assert(crashed.get, "crash injection never fired")

      // restart: batch 0 replays (no-op), then batch 1 arrives carrying
      // two REDELIVERED batch-0 vectors (at-least-once upstream) — the
      // corpus anti-join drops them, the graph frontier is empty for them
      val redelivered = b0.orderBy("vec_id").limit(2)
      val trackedBefore = CacheRegistry.trackedCount
      val q2 = GraphIngest.knnGraphIngest(src, corpusT, graphT, ckpt, k = k,
        seedTable = Some(seedT))
      q2.processAllAvailable()
      writeSrc(b1.union(redelivered))
      q2.processAllAvailable()
      q2.stop()
      // the resident loop must not accrete one tracked corpus-sized
      // cache per micro-batch (knnGraphAppend cacheTracks internally;
      // the per-batch identity-snapshot bracket releases them)
      assert(CacheRegistry.trackedCount == trackedBefore,
        s"graph ingest leaked ${CacheRegistry.trackedCount - trackedBefore} tracked caches across batches")

      // corpus: every vector exactly once, nothing extra
      val corpusIds = spark.table(corpusT).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      val fullIds = full.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(corpusIds.distinct.size == corpusIds.size, "corpus has duplicate vec_ids")
      assert(corpusIds.toSet == fullIds,
        s"corpus missing ${fullIds -- corpusIds.toSet}, extra ${corpusIds.toSet -- fullIds}")
      // graph: identical to the directly-appended reference sequence
      val got = spark.table(graphT).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("nbr_id"), r.getAs[Double]("cosine"))).toSet
      assert(got == expected,
        s"streamed graph diverges from direct-append reference: " +
          s"missing ${(expected -- got).take(5)}, extra ${(got -- expected).take(5)}")
      // seed artifact: the loop kept it fresh through the crash replay
      // and the redelivery — rebuild-identical means it must EQUAL a
      // one-shot append of the final corpus (exact, not a tolerance)
      val refSeedT = "graft_knn_stream_seed_ref_p9_v1"
      spark.sql(s"DROP TABLE IF EXISTS $refSeedT")
      graft.sources.Sources.clearOrphanedLocation(spark, refSeedT)
      spark.table(seedT).limit(0).write.format("parquet").saveAsTable(refSeedT)
      Similarity.lshSeedAppend(spark, refSeedT, full)
      def seedRows(t: String) = spark.table(t).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(seedRows(seedT) == seedRows(refSeedT),
        "streamed seed artifact diverges from the one-shot rebuild")
      Seq(corpusT, graphT, refT, seedT, refSeedT)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      CacheRegistry.releaseAll()
    }
  }

  test("knn graph ingest: suppressed forget keeps a redelivered vector out of corpus AND graph") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val k = 10
    withTempDir("graft-gsup") { tmp =>
      val base = tmp.toString
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
      new java.io.File(srcDir).mkdirs()
      val full = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
      val seed = full.filter(col("vec_id") % 10 =!= 0)
      val delta = full.filter(col("vec_id") % 10 === 0)
      val corpusT = "graft_knn_sup_corpus_spec"
      val graphT = "graft_knn_sup_graph_spec"
      Seq(corpusT, graphT, s"${graphT}_sup").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        graft.sources.Sources.clearOrphanedLocation(spark, t)
      }
      seed.write.format("parquet").saveAsTable(corpusT)
      Similarity.knnDescentConverged(spark, seed, k)
        .write.format("parquet").saveAsTable(graphT)
      // compliance-forget one seed vector (suppress=true records it on
      // the graph's suppression list), then delete it corpus-side too —
      // the caller's retention policy the scaladoc names
      val victim = seed.select("vec_id").orderBy("vec_id").limit(1)
        .collect()(0).getLong(0)
      Similarity.knnGraphForget(spark, graphT,
        spark.range(victim, victim + 1).select(col("id").as("vec_id")),
        suppress = true)
      val keepCorpus = spark.table(corpusT).filter(col("vec_id") =!= victim)
      graft.operators.StagedRewrite.rewrite(spark, corpusT, keepCorpus)
      // an at-least-once upstream REDELIVERS the forgotten vector in the
      // next batch, alongside genuinely new vectors
      val redelivery = full.filter(col("vec_id") === victim).union(delta)
      redelivery.coalesce(1).write.mode("append").parquet(srcDir)
      val q = GraphIngest.knnGraphIngest(
        spark.readStream.schema(full.schema).parquet(srcDir),
        corpusT, graphT, ckpt, k = k)
      q.processAllAvailable()
      q.stop()
      // the forgotten embedding is re-persisted NOWHERE: not in the
      // corpus table, not as a graph vertex, not as anyone's neighbor
      assert(spark.table(corpusT).filter(col("vec_id") === victim).isEmpty,
        "suppressed vector re-inserted into the corpus table on redelivery")
      assert(spark.table(graphT)
        .filter(col("vec_id") === victim || col("nbr_id") === victim).isEmpty,
        "suppressed vector re-entered the graph on redelivery")
      // the genuinely new vectors DID integrate into both artifacts
      val deltaIds = delta.select("vec_id").collect().map(_.getLong(0)).toSet
      val corpusIds = spark.table(corpusT).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(deltaIds.subsetOf(corpusIds), "new batch vectors missing from corpus")
      val graphVerts = spark.table(graphT).select("vec_id")
        .distinct().collect().map(_.getLong(0)).toSet
      assert(deltaIds.subsetOf(graphVerts), "new batch vectors missing from graph")
      Seq(corpusT, graphT, s"${graphT}_sup").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      CacheRegistry.releaseAll()
    }
  }
}
