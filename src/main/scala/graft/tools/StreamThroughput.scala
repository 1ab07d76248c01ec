package graft.tools

import graft.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming throughput probe (not part of the library surface):
  * drives a §2.6 streaming transform through a real rate-limited FILE
  * source at a full scale factor and reports rows/sec — evidence the
  * streaming paths handle volume, not just the MemoryStream semantics
  * the specs pin.
  *
  * Modes (first CLI arg, default `dedup`):
  *   - `dedup`      — the watermarked `dropDuplicates` twin of
  *                    `dedup_exact`; state is the watermark-bounded
  *                    set of seen event_ids.
  *   - `sessionize` — the `flatMapGroupsWithState` gap sessionizer
  *                    (30 min gap); state is O(active users), the
  *                    typed-state hot path.
  *   - `stats`      — the `transformWithState` running per-user stats
  *                    processor on the RocksDB state store provider.
  *   - `ingest`     — the COMPOSED [[graft.streaming.StreamingIngest
  *                    .dedupedIngest]] loop: per-batch gate against
  *                    persisted corpus state, exactly-once sink,
  *                    state append. Streams the `doc_id % 10 == 0`
  *                    shard of the documents table against state
  *                    built from the other 90%; reports rows/s over
  *                    the whole run plus a standalone timing of the
  *                    two per-batch components (corpus probe,
  *                    idempotent state append) at one batch's size.
  *                    The one-time state BUILD happens before the
  *                    clock starts — production state exists before
  *                    ingest does.
  *   - `spancut`    — the [[graft.streaming.SpanIngest.spanCutIngest]]
  *                    loop: the doc_id % 10 == 0 shard streamed
  *                    against a tool-local gram index built from the
  *                    other 90% (the registry artifact is never
  *                    mutated — the loop appends retained text).
  *                    Reports docs/sec plus the offline index build
  *                    cost and the cut volume.
  *   - `serve`      — the [[graft.streaming.VectorServe.serveStream]]
  *                    query-side runtime: the corpus's vectors
  *                    replayed as a query stream against the
  *                    persisted IVF index; reports queries/sec.
  *   - `graphserve` — the [[graft.streaming.VectorServe
  *                    .graphServeStream]] twin: the same query stream
  *                    beam-walked per micro-batch over the persisted
  *                    k-NN graph; reports queries/sec.
  *
  * The events table is staged as a multi-file parquet directory;
  * `maxFilesPerTrigger` paces micro-batches the way a production
  * object-store listing would.
  */
object StreamThroughput {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("dedup")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    // transformWithState requires the RocksDB provider (multi-column-
    // family state); the default HDFS-backed provider can't host it.
    if (mode == "stats")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val fpt = sys.env.getOrElse("SPARK_GRAFT_FILES_PER_TRIGGER", "2").toInt
    // the composed-loop modes return their metric line so the
    // Dashboard tool can embed the same rows in its committed
    // artifact; the CLI path prints it after a clean session stop
    def finish(line: String): Unit = { spark.stop(); println(line) }
    if (mode == "ingest") { runIngest(spark, sfDir); return }
    if (mode == "spancut") { finish(spanCutRow(spark, sfDir, fpt)); return }
    if (mode == "serve") { finish(serveRow(spark, sfDir, fpt)); return }
    if (mode == "graphserve") { finish(graphServeRow(spark, sfDir, fpt)); return }

    val events = Tables.events(spark, sfDir)
    val nRows = events.count()
    val src = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    events.repartition(16).write.mode("overwrite").parquet(src)
    val staged = spark.read.parquet(src)

    val stream = spark.readStream
      .schema(staged.schema)
      .option("maxFilesPerTrigger", fpt.toString)
      .parquet(src)
    val typed = stream
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStream.Event]
    val (metric, out, outputMode) = mode match {
      case "dedup" =>
        ("stream_dedup_rows_per_sec",
          stream.withWatermark("ts", "1 day").dropDuplicates("event_id"),
          "append")
      case "sessionize" =>
        ("stream_sessionize_rows_per_sec",
          EventStream.sessionize(typed, gapMs = 30L * 60 * 1000).toDF(),
          "append")
      case "stats" =>
        ("stream_user_stats_rows_per_sec",
          EventStream.runningUserStats(typed).toDF(),
          "update")
      case other => sys.error(s"unknown mode: $other (dedup|sessionize|stats|ingest|serve)")
    }
    val query = out.writeStream
      .format("noop")
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt)
      .start()
    val t0 = System.nanoTime()
    query.processAllAvailable()
    val dt = (System.nanoTime() - t0) / 1e9
    val total = query.recentProgress.map(_.numInputRows).sum
    query.stop()
    spark.stop()
    println(f"""{"metric":"$metric%s","value":${nRows / dt}%.0f,"rows":$nRows,"input_rows":$total,"sec":$dt%.2f,"sf":"$sfDir"}""")
  }

  /** `serve` mode: [[graft.streaming.VectorServe.serveStream]] driven
    * through the rate-limited file source — the full corpus's vectors
    * replayed AS QUERIES against the persisted IVF index, each
    * micro-batch running the batch serving plan (broadcast probes,
    * partition-pruned cell scan, exact top-k) and landing in its own
    * idempotent batch_id partition. Reports queries/sec; the one-time
    * index build is offline cost, before the clock. */
  private[tools] def serveRow(spark: SparkSession, sfDir: String,
                              filesPerTrigger: Int): String = {
    import org.apache.spark.sql.functions._
    val t0b = System.nanoTime()
    val table = graft.operators.Similarity.ivfIndexTable(spark, sfDir)
    val buildSec = (System.nanoTime() - t0b) / 1e9
    val queries = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val nQ = queries.count()
    val src = java.nio.file.Files.createTempDirectory("graft-serve-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-serve-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-serve-ckpt").toString
    queries.repartition(16).write.mode("overwrite").parquet(src)
    val staged = spark.read.parquet(src)
    val stream = spark.readStream
      .schema(staged.schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(src)
    val t0 = System.nanoTime()
    val query = graft.streaming.VectorServe.serveStream(sfDir, stream, out, ckpt)
    query.processAllAvailable()
    val dt = (System.nanoTime() - t0) / 1e9
    val nBatches = query.recentProgress.count(_.numInputRows > 0)
    query.stop()
    // every query vector served exactly once across the batch_id
    // partitions (k result rows each) — the throughput number only
    // counts if the work actually happened
    val results = spark.read.parquet(out)
    val servedQ = results.select("qid").distinct().count()
    val nRes = results.count()
    require(servedQ == nQ, s"served $servedQ of $nQ query vectors")
    f"""{"metric":"stream_serve_queries_per_sec","value":${nQ / dt}%.0f,"queries":$nQ,"result_rows":$nRes,"batches":$nBatches,"index_build_sec":$buildSec%.2f,"index_table":"$table%s","sec":$dt%.2f,"sf":"$sfDir"}"""
  }

  /** `graphserve` mode: [[graft.streaming.VectorServe
    * .graphServeStream]] driven through the same rate-limited file
    * source — the corpus's vectors replayed AS QUERIES, each
    * micro-batch running the batched beam walk over the persisted
    * k-NN graph into its own idempotent batch_id partition. Reports
    * queries/sec; the one-time graph build is offline cost. */
  private[tools] def graphServeRow(spark: SparkSession, sfDir: String,
                                   filesPerTrigger: Int): String = {
    import org.apache.spark.sql.functions._
    val k = 10
    val t0b = System.nanoTime()
    val table = graft.operators.Similarity.knnGraphTable(spark, sfDir, k, 3)
    val buildSec = (System.nanoTime() - t0b) / 1e9
    val queries = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val nQ = queries.count()
    val src = java.nio.file.Files.createTempDirectory("graft-gserve-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-gserve-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gserve-ckpt").toString
    queries.repartition(16).write.mode("overwrite").parquet(src)
    val staged = spark.read.parquet(src)
    val stream = spark.readStream
      .schema(staged.schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(src)
    val t0 = System.nanoTime()
    val query = graft.streaming.VectorServe.graphServeStream(sfDir, stream, out, ckpt, k = k)
    query.processAllAvailable()
    val dt = (System.nanoTime() - t0) / 1e9
    val nBatches = query.recentProgress.count(_.numInputRows > 0)
    query.stop()
    // every query vector served exactly once with a full top-k —
    // the throughput number only counts if the work happened
    val results = spark.read.parquet(out)
    val servedQ = results.select("qid").distinct().count()
    val nRes = results.count()
    require(servedQ == nQ, s"served $servedQ of $nQ query vectors")
    require(nRes == nQ * k, s"expected ${nQ * k} result rows, got $nRes")
    f"""{"metric":"stream_graphserve_queries_per_sec","value":${nQ / dt}%.0f,"queries":$nQ,"result_rows":$nRes,"batches":$nBatches,"graph_build_sec":$buildSec%.2f,"graph_table":"$table%s","sec":$dt%.2f,"sf":"$sfDir"}"""
  }

  /** `spancut` mode: the streaming span-cut loop at volume — the
    * arriving shard cut per micro-batch against the persisted gram
    * index, cleaned docs to the exactly-once sink, retained-text
    * windows appended back. The index build is offline cost (before
    * the clock), into a TOOL-LOCAL table because the loop mutates its
    * index. */
  private[tools] def spanCutRow(spark: SparkSession, sfDir: String,
                                filesPerTrigger: Int): String = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val shard = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    val nRows = shard.count()
    val nDocs = docs.count()
    val idxT = "graft_span_gram_throughput_probe_n50_v5"
    // tool-local EMPTY index from the canonical DDL — the old
    // schema-copy-via-limit(0) trick materialized the whole registry
    // index inside the timed build window just to steal its schema
    // (doubling index_build_sec and leaving a registry artifact behind)
    val t0b = System.nanoTime()
    graft.operators.Dedup.spanGramIndexCreateEmpty(spark, idxT,
      graft.operators.Dedup.spanIndexPartitionsFor(nDocs))
    graft.operators.Dedup.spanGramIndexAppend(spark, idxT,
      docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text"))
    val buildSec = (System.nanoTime() - t0b) / 1e9
    val src = java.nio.file.Files.createTempDirectory("graft-spancut-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-spancut-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-spancut-ckpt").toString
    shard.repartition(16).write.mode("overwrite").parquet(src)
    val staged = spark.read.parquet(src)
    val stream = spark.readStream
      .schema(staged.schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(src)
    val t0 = System.nanoTime()
    val query = graft.streaming.SpanIngest.spanCutIngest(stream, idxT, out, ckpt)
    query.processAllAvailable()
    val dt = (System.nanoTime() - t0) / 1e9
    query.stop()
    val res = spark.read.parquet(out)
      .agg(count(lit(1)).as("docs"),
        sum((col("n_spans_cut") > 0).cast("long")).as("docs_cut"),
        sum(col("n_chars_cut")).as("chars_cut")).collect()(0)
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
    f"""{"metric":"stream_spancut_docs_per_sec","value":${nRows / dt}%.0f,"docs":$nRows,"emitted":${res.getLong(0)},"docs_cut":${res.getLong(1)},"chars_cut":${res.getLong(2)},"files_per_trigger":$filesPerTrigger,"sec":$dt%.2f,"index_build_sec":$buildSec%.2f,"sf":"$sfDir"}"""
  }

  private def runIngest(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    // base corpus state holds every doc_id % 10 =!= 0, so the only
    // genuinely-new documents are the % 10 === 0 shard. Split it:
    // stream the % 20 === 0 half, HOLD OUT the % 20 === 10 half so
    // append_sec below can time a fresh (non-idempotent-no-op) append
    val shard = docs.filter(col("doc_id") % 20 === 0).select("doc_id", "text")
    val nRows = shard.count()
    // one-time state build (45k-doc signature tables here) is offline
    // cost, not ingest cost — build before the clock starts
    val t0b = System.nanoTime()
    val (_, hashesT) = graft.operators.Dedup.corpusStateTables(spark, sfDir)
    val buildSec = (System.nanoTime() - t0b) / 1e9
    val src = java.nio.file.Files.createTempDirectory("graft-ingest-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ingest-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt").toString
    shard.repartition(16).write.mode("overwrite").parquet(src)
    val staged = spark.read.parquet(src)
    val stream = spark.readStream
      .schema(staged.schema)
      .option("maxFilesPerTrigger", sys.env.getOrElse("SPARK_GRAFT_FILES_PER_TRIGGER", "2"))
      .parquet(src)
    val batchEnds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val query = graft.streaming.StreamingIngest.dedupedIngest(
      sfDir, stream, out, ckpt,
      afterBatch = _ => batchEnds.synchronized { batchEnds += (System.nanoTime() - t0) / 1e9 })
    query.processAllAvailable()
    val dt = (System.nanoTime() - t0) / 1e9
    query.stop()
    val accepted = spark.read.parquet(out).count()
    // standalone cost of the two per-batch components at one batch's
    // size (the stream above ran ~8 batches of nRows/8)
    val oneBatch = shard.limit((nRows / 8).toInt.max(1)).cache()
    oneBatch.count()
    val keys = oneBatch.select(xxhash64(col("text")).as("h64"), md5(col("text")).as("h128"))
    val tp = System.nanoTime()
    graft.operators.Dedup.probeCorpusKeys(spark, hashesT, keys, Seq("h64", "h128")).count()
    val probeSec = (System.nanoTime() - tp) / 1e9
    // time the append on the HELD-OUT half (doc_id % 20 === 10): the
    // streamed run already appended the % 20 === 0 docs, so re-timing
    // those would measure the idempotent no-op path, understating the
    // fresh-append cost a production ingest actually pays (ADVICE r8).
    // The warehouse PERSISTS across tool runs, so additionally
    // anti-join against the state table — a rerun must not silently
    // degrade append_sec back into the no-op measurement; if nothing
    // is fresh anymore, say so in the metric instead of lying.
    val heldOut = docs.filter(col("doc_id") % 20 === 10)
      .join(spark.table(hashesT).select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id").limit((nRows / 8).toInt.max(1)).cache()
    val nFresh = heldOut.count()
    val ta = System.nanoTime()
    graft.operators.Dedup.appendShardToCorpus(spark, sfDir, heldOut)
    val appendSec = (System.nanoTime() - ta) / 1e9
    val appendNote = if (nFresh == 0) "no_fresh_ids_noop" else s"fresh_ids_$nFresh"
    val batchSecs = batchEnds.zip(0.0 +: batchEnds).map { case (e, s) => e - s }
    spark.stop()
    println(f"""{"metric":"stream_ingest_rows_per_sec","value":${nRows / dt}%.0f,"rows":$nRows,"accepted":$accepted,"batches":${batchEnds.size},"mean_batch_sec":${if (batchSecs.nonEmpty) batchSecs.sum / batchSecs.size else 0.0}%.2f,"state_build_sec":$buildSec%.2f,"probe_sec":$probeSec%.2f,"append_sec":$appendSec%.2f,"append_note":"$appendNote%s","sec":$dt%.2f,"sf":"$sfDir"}""")
  }
}
