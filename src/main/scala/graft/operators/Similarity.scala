package graft.operators

import graft.Tables
import graft.CacheRegistry.Cacheable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.4).
  *
  * Scale design: the query set is broadcast (it is small by
  * definition); the corpus is NEVER shuffled for brute force — each
  * corpus partition scores its rows against the broadcast queries and
  * only (qid, vec_id, score) triples move for the final per-query
  * top-k. The LSH path buckets the corpus once (one narrow shuffle of
  * (bucket, id, vec)) and probes only matching buckets.
  */
object Similarity {

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  private def l2norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))

  /** Codegen'd native expression — see graft.functions.CosineSimilarity. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(a, b)

  // --- primitive kernel ----------------------------------------------

  private[operators] def l2(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  private[operators] def dotp(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** (vec_id, vector-as-double[]) Dataset view of `embeddings`. */
  private[operators] def vectors(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long"), asDouble(col("embedding")))
      .as[(Long, Array[Double])]
  }

  /** Exact cosine top-k per query vector (queries = vec_id < nQueries).
    * The tiny query side is collected and broadcast; each corpus
    * partition scores its rows in a JIT'd primitive loop and keeps a
    * bounded per-query heap, so only P×Q×k candidate triples ever
    * move — the corpus itself is never shuffled. Final exact rank via
    * a window over that small candidate set. */
  def simBruteforceTopK(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10): DataFrame = {
    import s.implicits._
    val e = vectors(s, dir)
    val qs = e.filter(_._1 < nQueries).collect()
      .map { case (id, v) => (id, v, l2(v)) }.sortBy(_._1)
    val qb = s.sparkContext.broadcast(qs)
    // heap max = current WORST kept candidate (smallest cos, then largest id)
    val worstFirst: Ordering[(Double, Long)] = Ordering.by { case (c, id) => (-c, id) }
    val partTop = e.mapPartitions { rows =>
      val queries = qb.value
      val heaps = Array.fill(queries.length)(
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
      rows.foreach { case (id, v) =>
        val nrm = l2(v)
        var qi = 0
        while (qi < queries.length) {
          val (qid, qv, qn) = queries(qi)
          if (id != qid) {
            val cos = dotp(qv, v) / (qn * nrm)
            val h = heaps(qi)
            if (h.size < k) h.enqueue((cos, id))
            else {
              val (wc, wid) = h.head
              if (cos > wc || (cos == wc && id < wid)) { h.dequeue(); h.enqueue((cos, id)) }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (c, id) => (queries(qi)._1, id, c) }
      }
    }
    partTop.toDF("qid", "vec_id", "cos")
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cosine"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** Deterministic random hyperplanes for sign-LSH, seeded from a
    * splitmix stream so driver and any future re-run agree.
    *
    * NOTE the affine map yields uniform [-1, 3) (the divisor is 2⁵²
    * against a 53-bit mantissa), i.e. entries biased positive — for
    * SIGN hashing this only tilts the plane family toward one
    * orthant, which the recall specs measure through (margin
    * multi-probe holds recall 1.0 on the target pairs) and both
    * engines share via the inlined constants, so the family is
    * FROZEN as-is: re-centering would silently re-bucket every
    * shipped LSH table, and "fixing" these constants is a data-loss
    * bug, not a cleanup. Zero-mean consumers (JL projection) use
    * [[centeredStream]] instead — as must every NEW plane family
    * (the multitable families in [[lshTablePlanes]] already do). */
  private[operators] def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var x = seed
    def next(): Double = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
    }
    Array.fill(numPlanes)(Array.fill(dim)(next()))
  }

  /** The same splitmix stream with the CORRECT 2⁵³ divisor: uniform
    * [-1, 1), mean 0, variance 1/3 — what zero-mean linear maps
    * (JL projection) require. */
  private[operators] def centeredStream(n: Int, seed: Long): Array[Double] = {
    var x = seed
    Array.fill(n) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }

  /** The deterministic hyperplanes, exposed so the oracle SQL can
    * inline the exact same constants. */
  def lshPlanes(numPlanes: Int = 6, dim: Int = 64): Array[Array[Double]] =
    hyperplanes(numPlanes, dim)

  /** The multi-probe XOR masks (own bucket + all 1-bit and 2-bit
    * flips), exposed for the same reason. */
  def lshProbeMasks(numPlanes: Int = 6): Seq[Long] =
    0L +: ((0 until numPlanes).map(i => 1L << i) ++
      (for (i <- 0 until numPlanes; j <- (i + 1) until numPlanes) yield (1L << i) | (1L << j)))

  /** Sign-LSH bucket id: one bit per hyperplane (sign of the dot
    * product — equivalently of the cosine), packed into a long — one
    * codegen'd kernel call ([[graft.functions.LshBucket]]); the plane
    * family rides along as a codegen reference object instead of
    * numPlanes × dim plan literals. */
  private[operators] def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    graft.functions.VectorFunctions.lsh_bucket(v, planes)

  /** MARGIN-GUIDED multi-probe (Lv et al., "Multi-Probe LSH"): the
    * probe set for a vector is its own bucket plus the buckets reached
    * by flipping subsets (size ≤ 2) of the `flip` planes where the
    * vector's |cosine margin| is SMALLEST — the planes a true neighbor
    * could actually sit across. Probe volume is 1 + flip + C(flip,2)
    * — CONSTANT in the plane count — so the plane count is free to
    * grow with the corpus (holding bucket occupancy flat) without the
    * probe fan-out growing with it. One fused codegen'd kernel call
    * ([[graft.functions.LshProbeBuckets]] — see its scaladoc for why
    * the composed-column formulation collapsed into 8.8 MiB plans). */
  private[operators] def lshProbeBuckets(v: Column, planes: Array[Array[Double]],
                                         flip: Int): Column =
    graft.functions.VectorFunctions.lsh_probe_buckets(v, planes, flip)

  /** (cosine, -cell) structs over the codebook: array_max picks the
    * max centroid cosine, ties → lowest cell index. Shared by the IVF
    * query path and [[Dedup.dedupSemantic]] so every consumer (and
    * the DuckDB oracles) quantizes identically. */
  private[operators] def ivfCellStructs(v: Column,
                                        codebook: Array[Array[Double]]): Column =
    array(codebook.zipWithIndex.map { case (c, i) =>
      struct(cosine(v, array(c.map(lit): _*)).as("ccos"), lit(-i).as("negidx"))
    }: _*)

  /** Hard IVF cell assignment (argmax centroid cosine, ties → lowest
    * cell) as one map-only fused kernel ([[graft.functions.IvfCell]])
    * whose cost per row is O(nlist·dim) arithmetic with a
    * codebook-size-independent expression tree — the form that keeps
    * the nlist lever usable (the former struct/array_max expression
    * grew with nlist and fell out of codegen at re-fit codebook
    * sizes). `private[graft]` so the measurement tools (nlist-lever
    * profiling) can assign against re-fit codebooks. */
  private[graft] def ivfCell(v: Column, codebook: Array[Array[Double]]): Column =
    graft.functions.VectorFunctions.ivf_cell(v, codebook)

  /** ANN top-k via IVF (inverted-file) coarse quantization against the
    * frozen [[IvfCodebook]] (spherical k-means trained offline on a
    * sample by [[graft.tools.FitIvfCodebook]] — the production IVF
    * pattern: the quantizer ships as constants, so assignment is a
    * pure codegen'd expression and the oracle can replicate it
    * bit-for-bit). Each corpus vector lands in the cell with the
    * highest centroid cosine (ties → lowest cell index); each query
    * scores only the `nprobe` nearest cells. The 100 TB shape: one
    * map-only assignment scan, then the broadcast query set probes
    * nprobe/nlist of the corpus — the corpus itself never shuffles. */
  def simIvfAnn(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                nprobe: Int = 4,
                codebook: Array[Array[Double]] = IvfCodebook.centroids): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // corpus side: fused-kernel assignment (scales with corpus, not
    // with the expression tree); the struct form survives only on the
    // nQueries-row probe side below, which needs per-cell scores
    val cells = ivfCellStructs(col("v"), codebook)
    val assigned = e.withColumn("bucket", ivfCell(col("v"), codebook))
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), explode(cells).as("p"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("p.ccos").desc, col("p.negidx").desc)))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), (-col("p.negidx")).cast("int").as("bucket"))
    assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cosine"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** INCREMENTAL ingest into a persisted IVF index — the vector-
    * database write path that completes the build/serve pair: cell
    * assignment is a pure function of the frozen codebook, so new
    * vectors append into their cells WITHOUT touching existing rows
    * (no re-clustering, no index rebuild — O(batch), not O(corpus)).
    * Idempotent by vec_id anti-join (a redelivered batch is a no-op,
    * the [[Dedup.appendShardDocs]] contract), and the batch is
    * repartitioned on the cell id before the write so each append
    * lays down one file per touched cell instead of
    * shuffle.partitions × cells — the file-count discipline every
    * later pruned scan depends on. */
  /** `<table>_sup`: the index's SUPPRESSION list (compliance twin of
    * [[Dedup.forgetFromCorpus]]'s tombstones). Physical deletion
    * ([[ivfIndexForget]]) removes rows, so by default a redelivered
    * vector would be RE-ACCEPTED by the append's anti-join — correct
    * for the build/ingest lifecycle ("append equals rebuild"), wrong
    * for a compliance deletion replayed by an at-least-once upstream.
    * `forget(suppress = true)` records the ids here and every later
    * append anti-joins them until an explicit [[ivfIndexReinstate]]. */
  private def suppressionTable(s: SparkSession, table: String): String = {
    val supT = s"${table}_sup"
    if (!s.catalog.tableExists(supT)) {
      graft.sources.Sources.clearOrphanedLocation(s, supT)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType))))
        .write.format("parquet").saveAsTable(supT)
    }
    // heal an interrupted reinstate swap before any consumer reads —
    // a crash mid-rewrite must never present an empty suppression list
    graft.operators.StagedRewrite.recover(s, supT)
    supT
  }

  def ivfIndexAppend(s: SparkSession, table: String, vecs: DataFrame,
                     codebook: Array[Array[Double]] = IvfCodebook.centroids): Unit = {
    val existing = s.table(table).select(col("vec_id"))
    val supT = s"${table}_sup"
    graft.operators.StagedRewrite.recover(s, supT)
    val admitted =
      if (s.catalog.tableExists(supT))
        vecs.join(broadcast(s.table(supT).distinct()), Seq("vec_id"), "left_anti")
      else vecs
    admitted.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(existing, Seq("vec_id"), "left_anti")
      .withColumn("bucket", ivfCell(col("v"), codebook))
      .repartition(col("bucket"))
      .write.mode("append").insertInto(table)
  }

  /** Intentional inverse of a suppressed forget (user re-consents):
    * remove the ids from the index's suppression list so the next
    * append accepts their vectors again. No-op when nothing is
    * suppressed; the rewrite runs through [[StagedRewrite]]'s durable
    * staging + commit-marker protocol (tombstone-reinstate twin), so
    * a crash anywhere — including between the TRUNCATE and the
    * re-append — is repaired by the next call or the next consumer's
    * recover hook without losing any other suppression entry. */
  def ivfIndexReinstate(s: SparkSession, table: String, ids: DataFrame,
                        afterStage: () => Unit = () => (),
                        afterTruncate: () => Unit = () => ()): Unit =
    reinstateSuppressed(s, table, ids, afterStage, afterTruncate)

  /** [[ivfIndexReinstate]]'s table-generic core — the `<table>_sup`
    * suppression protocol is identical for every artifact that
    * carries one (IVF index, k-NN graph), so the reinstate rewrite
    * is too. */
  private def reinstateSuppressed(s: SparkSession, table: String, ids: DataFrame,
                                  afterStage: () => Unit = () => (),
                                  afterTruncate: () => Unit = () => ()): Unit = {
    val supT = s"${table}_sup"
    graft.operators.StagedRewrite.recover(s, supT)
    if (s.catalog.tableExists(supT)) {
      val idSet = ids.select(col("vec_id")).distinct()
      if (!s.table(supT).join(idSet, Seq("vec_id"), "left_semi").isEmpty) {
        val keep = s.table(supT).join(broadcast(idSet), Seq("vec_id"), "left_anti")
        graft.operators.StagedRewrite.rewrite(s, supT, keep, afterStage, afterTruncate)
      }
    }
  }

  /** The build+ingest+serve loop as one query (`sim_ivf_ann_
    * incremental`): the index is BUILT from the base corpus
    * (vec_id % 10 != 0), the held-out delta is APPENDED through
    * [[ivfIndexAppend]], and serving runs against the accreted
    * table. Output is identical to [[simIvfAnn]] over the full
    * corpus — appending a batch must be indistinguishable from
    * having built with it — so it shares that operator's oracle
    * verbatim (the [[Dedup.dedupIncrementalPersisted]] pattern). */
  def simIvfAnnIncremental(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                           nprobe: Int = 4,
                           codebook: Array[Array[Double]] = IvfCodebook.centroids): DataFrame = {
    val table = ivfIndexTableIncremental(s, dir, codebook)
    ivfIndexAppend(s, table,
      Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0), codebook)
    serveFromIndex(s, dir, table, nQueries, k, nprobe, codebook)
  }

  /** TARGETED deletion from a persisted IVF index (`ivfIndexForget`)
    * — the compliance path (user-data removal) that must NOT cost a
    * rebuild at 100 TB: the ids' home cells are found with a
    * semi-join (bounded: ≤ ncells rows collect), ONLY those cells
    * are rewritten via dynamic partition overwrite, and every
    * untouched cell's files are left byte-identical (spec-asserted
    * by file listing). A cell whose vectors are all forgotten ends
    * EMPTY — dynamic overwrite has no rows to replace it with, so
    * those partitions are dropped explicitly rather than silently
    * left holding the forgotten rows. */
  def ivfIndexForget(s: SparkSession, table: String, ids: DataFrame,
                     suppress: Boolean = false): Unit = {
    val idCol = ids.select(col("vec_id"))
    // compliance mode: record the ids on the suppression list FIRST so
    // no append window between removal and recording can re-accept a
    // redelivery; the whole forget is idempotent, so a crash anywhere
    // is repaired by re-running it (single-writer, like all mutations)
    if (suppress) {
      val supT = suppressionTable(s, table)
      idCol.distinct()
        .join(s.table(supT), Seq("vec_id"), "left_anti")
        .write.mode("append").insertInto(supT)
    }
    val touched = s.table(table).join(idCol, Seq("vec_id"), "left_semi")
      .select("bucket").distinct().collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      // materialize the survivors BEFORE the overwrite and truncate
      // lineage — the insert must not lazily re-read the very
      // partitions it is replacing. Through Lineage.cut so the pin
      // honors `graft.reliableCheckpointDir` like every iterative
      // loop: on a real cluster an executor loss between here and the
      // overwrite otherwise fails the forget (recoverable — forget is
      // idempotent — but the durable tier makes it a retry instead)
      val remaining = Lineage.cut(s.table(table)
        .filter(col("bucket").isin(touched.toSeq: _*))
        .join(idCol, Seq("vec_id"), "left_anti"))
      val nonEmpty = remaining.select("bucket").distinct().collect().map(_.getInt(0)).toSet
      // getAll holds only EXPLICITLY-set entries — getOption would
      // report the default ("static") and the restore would then pin
      // it explicitly, leaking a session-conf change to the caller
      val saved = s.conf.getAll.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        if (nonEmpty.nonEmpty)
          remaining.repartition(col("bucket")).write.mode("overwrite").insertInto(table)
        touched.filterNot(nonEmpty).foreach { b =>
          s.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (bucket=$b)")
        }
      } finally saved match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** The forget loop as one query (`sim_ivf_ann_forget`): a
    * dedicated index is built from the FULL corpus, the
    * vec_id % 10 == 0 slice is then forgotten through
    * [[ivfIndexForget]], and serving runs against what remains —
    * which must be indistinguishable from an index never containing
    * those vectors (the oracle is [[simIvfAnn]]'s with the corpus
    * side filtered; queries still come from the full query set, the
    * deleted-user-can-still-search shape). */
  def simIvfAnnForget(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                      nprobe: Int = 4,
                      codebook: Array[Array[Double]] = IvfCodebook.centroids): DataFrame = {
    val table = ivfIndexTableForget(s, dir, codebook)
    ivfIndexForget(s, table,
      Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0).select("vec_id"))
    serveFromIndex(s, dir, table, nQueries, k, nprobe, codebook)
  }

  /** [[ivfIndexTable]]'s full-corpus twin for the forget path — a
    * separate physical table so the mutation never aliases the
    * shared read-only index. */
  private[graft] def ivfIndexTableForget(s: SparkSession, dir: String,
      codebook: Array[Array[Double]] = IvfCodebook.centroids): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val cbTag = (scala.util.hashing.MurmurHash3.arrayHash(
      codebook.map(java.util.Arrays.hashCode)) & 0x7fffffff).toHexString
    val table = s"graft_ivf_index_fgt_${slug}_${dirTag}_k${codebook.length}_c${cbTag}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("bucket", ivfCell(col("v"), codebook))
        .write.partitionBy("bucket").format("parquet").saveAsTable(table)
    }
    table
  }

  /** [[ivfIndexTable]]'s base-corpus twin for the incremental path:
    * built (once per JVM) from vec_id % 10 != 0 only; the held-out
    * rest arrives via [[ivfIndexAppend]]. */
  private[graft] def ivfIndexTableIncremental(s: SparkSession, dir: String,
      codebook: Array[Array[Double]] = IvfCodebook.centroids): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val cbTag = (scala.util.hashing.MurmurHash3.arrayHash(
      codebook.map(java.util.Arrays.hashCode)) & 0x7fffffff).toHexString
    val table = s"graft_ivf_index_incr_${slug}_${dirTag}_k${codebook.length}_c${cbTag}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      Tables.embeddings(s, dir)
        .filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("bucket", ivfCell(col("v"), codebook))
        .write.partitionBy("bucket").format("parquet").saveAsTable(table)
    }
    table
  }

  /** Builds (once per dir × codebook size) the PERSISTED IVF index:
    * the corpus assigned to cells ONE time and stored as a managed
    * parquet table PARTITIONED BY the cell id — the production ANN
    * serving shape, mirroring [[Dedup.corpusStateTables]] for the
    * similarity family. A 100 TB corpus is assigned on ingest, not
    * per query; each query then touches only its probed cells'
    * partitions (runtime partition pruning — the probe join's
    * broadcast side seeds a `dynamicpruningexpression` on the index
    * scan, plan-asserted in BucketingSpec). Idempotent: rebuilt only
    * if absent; the name embeds dir slug + hash and a CONTENT hash
    * of the codebook (not just its size — two same-nlist codebooks,
    * e.g. a re-fit one, must never alias a stale index), so distinct
    * parameterizations never alias. */
  def ivfIndexTable(s: SparkSession, dir: String,
                    codebook: Array[Array[Double]] = IvfCodebook.centroids): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val cbTag = (scala.util.hashing.MurmurHash3.arrayHash(
      codebook.map(java.util.Arrays.hashCode)) & 0x7fffffff).toHexString
    val table = s"graft_ivf_index_${slug}_${dirTag}_k${codebook.length}_c${cbTag}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("bucket", ivfCell(col("v"), codebook))
        .write.partitionBy("bucket").format("parquet").saveAsTable(table)
    }
    table
  }

  /** [[simIvfAnn]] against the PERSISTED index — the real serving
    * path: corpus assignment is amortized into [[ivfIndexTable]] (one
    * offline write, like a vector database's build step), and the
    * query-time plan is a broadcast of the nQueries probe rows
    * against a partition-PRUNED scan of only the probed cells.
    * Output is identical to [[simIvfAnn]] (same codebook, same
    * tie order), so it shares that operator's DuckDB oracle
    * verbatim — the [[Dedup.dedupIncrementalPersisted]] pattern. */
  def simIvfAnnPersisted(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                         nprobe: Int = 4,
                         codebook: Array[Array[Double]] = IvfCodebook.centroids): DataFrame =
    serveFromIndex(s, dir, ivfIndexTable(s, dir, codebook), nQueries, k, nprobe, codebook)

  /** Query-time serving against any cell-partitioned index table —
    * shared by the one-shot persisted path and the incremental
    * build+append path, which must produce identical plans. */
  private[graft] def serveFromIndex(s: SparkSession, dir: String, table: String,
                             nQueries: Int, k: Int, nprobe: Int,
                             codebook: Array[Array[Double]]): DataFrame =
    serveQueryFrame(s, table,
      Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(col("vec_id") < nQueries),
      k, nprobe, codebook)

  /** [[serveFromIndex]] for an ARBITRARY (vec_id, v) query frame —
    * the seam the streaming serve path
    * ([[graft.streaming.VectorServe]]) shares with the batch
    * operators, so a micro-batch of queries runs the exact plan the
    * batch path runs: broadcast probes against the partition-pruned
    * cell scan, exact cosine re-rank, per-query top-k. */
  private[graft] def serveQueryFrame(s: SparkSession, table: String,
                             queries: DataFrame, k: Int, nprobe: Int,
                             codebook: Array[Array[Double]]): DataFrame = {
    val assigned = s.table(table)
    val cells = ivfCellStructs(col("v"), codebook)
    val probes = queries
      .select(col("vec_id").as("qid"), col("v").as("qv"), explode(cells).as("p"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("p.ccos").desc, col("p.negidx").desc)))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), (-col("p.negidx")).cast("int").as("bucket"))
    assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cosine"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** ANN top-k via random-hyperplane LSH with radius-2 multi-probe
    * (the query probes its own bucket plus all 1-bit and 2-bit flip
    * neighbors — cheap recall without extra tables). Approximate by
    * design → rows-only check; DedupSimilaritySpec asserts recall vs
    * the exact top-k at test scale. */
  def simLshAnn(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                numPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
    val flips: Seq[Long] =
      (0 until numPlanes).map(i => 1L << i) ++
        (for (i <- 0 until numPlanes; j <- (i + 1) until numPlanes) yield (1L << i) | (1L << j))
    val probes: Seq[Column] = col("bucket") +:
      flips.map(m => col("bucket").bitwiseXOR(lit(m)))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(array(probes: _*)).as("bucket"))
    e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cosine"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** The deterministic per-table plane sets for [[simLshMultiTable]],
    * exposed so the oracle SQL inlines identical constants. Built on
    * [[centeredStream]] (zero-mean), NOT the frozen positively-biased
    * [[hyperplanes]] family: the bias tilts every table toward the
    * same orthant, CORRELATING the tables — which defeats the whole
    * independent-chances design (measured: 0.56 → 0.72 recall@10 at
    * test scale from de-biasing alone). A new family has no
    * re-bucketing compat constraint, so it uses the correct stream.
    * Seeds 42+t index distinct splitmix streams — two streams could
    * only share aligned draws if their seed gap were a multiple of
    * the splitmix gamma, unreachable from small offsets. */
  def lshTablePlanes(nTables: Int = 8, numPlanes: Int = 5,
                     dim: Int = 64): Seq[Array[Array[Double]]] =
    (0 until nTables).map { t =>
      val flat = centeredStream(numPlanes * dim, seed = 42L + t)
      Array.tabulate(numPlanes)(p => flat.slice(p * dim, (p + 1) * dim))
    }

  /** ANN top-k via L INDEPENDENT LSH tables, radius-0 probes, union
    * of candidates (`sim_lsh_multitable`) — the production recall
    * lever the single-table operator's scaladoc points at: deeper
    * bit-flips approach a full scan (radius-2 on 6 planes probes
    * 22/64 buckets ≈ a third of the corpus), while L tables multiply
    * INDEPENDENT chances a true neighbor shares a bucket, at probe
    * volume L·n/2^planes (8 tables of 5 planes ≈ n/4, under
    * multi-probe's 22/64 ≈ n/2.9; both masses measured side by side
    * in DedupSimilaritySpec). The regime matters for reading recall
    * numbers: sign-collision probability per plane is 1 − θ/π, so at
    * production near-dup similarity (cos ≥ 0.9, θ ≤ 26°: ≥ 0.86 per
    * table here, miss ≈ 0.14⁸ across 8 tables) the planted-truth
    * spec measures recall 1.0 — while the synthetic corpus's
    * "nearest" neighbors sit at cos ≈ 0.3 (θ ≈ 73°), where ANY
    * sign-LSH family needs near-full-scan candidate mass (the
    * single-table operator's 0.6 recall scans a third of the
    * corpus for it).
    *
    * Scale shape: one corpus scan computes all L bucket ids (L fused
    * codegen kernel calls), posexplode to fixed-width (t, bucket,
    * vec_id, v) rows, broadcast the L·nQueries probe rows, join on
    * (t, bucket). A pair matching in several tables would rank twice
    * under row_number, so candidates dedup through a (qid, vec_id)
    * partial aggregate (dup factor ≤ L) before the exact cosine
    * re-rank. Hash-verified: the oracle replays every table's plane
    * family from inlined constants. */
  def simLshMultiTable(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                       numPlanes: Int = 5, dim: Int = 64,
                       nTables: Int = 8, augmentPlanted: Boolean = false): DataFrame = {
    val planeSets = lshTablePlanes(nTables, numPlanes, dim)
    val base =
      if (augmentPlanted)
        Dedup.augmentedEmbeddings(s, dir).select(col("id").as("vec_id"), col("v"))
      else Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val e = base
      .withColumn("buckets",
        array(planeSets.map(p => lshBucket(col("v"), p)): _*))
    val corpus = e.select(col("vec_id"), col("v"),
      posexplode(col("buckets")).as(Seq("t", "bucket")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        posexplode(col("buckets")).as(Seq("t", "bucket")))
    corpus.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      // union semantics across tables: first() is safe — every dup of
      // a (qid, vec_id) pair carries the identical vectors
      .groupBy("qid", "vec_id")
      .agg(first("qv").as("qv"), first("v").as("v"))
      .withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cosine"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** ANN quality evaluation (`sim_eval`) — [[Dedup.dedupEval]]'s
    * pattern for the SERVING family: run the approximate server (IVF,
    * the preferred path) and the exact brute force over the same
    * query set and report pair-level recall@k in one summary row —
    * the number an operator dashboard tracks to catch codebook drift
    * before users do. Fully hash-verified: unlike dedup_eval's
    * quadratic exact-truth side, BOTH formulations here replay
    * linearly in SQL at any oracle scale. The final crossJoins are
    * one-row scalar attaches (the documented shape). */
  def simEval(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
              nprobe: Int = 4): DataFrame =
    simEvalAgainst(s, dir, simIvfAnn(s, dir, nQueries, k, nprobe), nQueries, k)

  /** [[simEval]] generalized over the ANN side — the same
    * recall-vs-exact summary row for ANY serving tier (`ann` must
    * carry (qid, vec_id) picks). The registry's `sim_eval` entry
    * stays pinned to IVF-flat (the preferred path); the
    * DedupSimilaritySpec tier sweep runs this against SQ8, PQ, and
    * multitable LSH so a quantization regression that eats through
    * the over-fetch margin — invisible to the bit-identical re-rank
    * contract only while the margin holds — surfaces as a recall row
    * below the IVF floor. */
  def simEvalAgainst(s: SparkSession, dir: String, ann: DataFrame,
                     nQueries: Int = 5, k: Int = 10): DataFrame = {
    val exact = simBruteforceTopK(s, dir, nQueries, k).select("qid", "vec_id").cacheTracked
    val annIds = ann.select("qid", "vec_id").cacheTracked
    val hit = annIds.join(exact, Seq("qid", "vec_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(annIds.agg(count(lit(1)).as("n_ann")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_ann"), col("n_hit"),
        round(when(col("n_exact") === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_exact").cast("double")), 4)
          .as("recall"))
  }

  /** The CONVERGED k-NN graph artifact viewed as a serving tier for
    * [[simEvalAgainst]]'s recall dashboard — its per-vertex top-k
    * list restricted to the query ids IS a (qid, vec_id) pick set,
    * so the graph gets a recall row next to IVF/SQ8/PQ/multitable.
    * This family EARNED its dashboard row: fixed-T recall collapsed
    * silently at scale (0.78 → 0.45 → 0.00 at n=500/2000/20000)
    * before the converged+LSH form recovered it (0.955 on the
    * planted 10×-replica; ~0.26 per-query on an isotropic corpus
    * where the true top-k sits in a near-flat cosine band — the
    * spec's tier sweep documents both numbers at the row). A
    * production rollout watches THIS number, not the construction
    * specs, for quality drift in the graph build. */
  def knnGraphRecallRow(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                        maxIters: Int = 30, delta: Double = 0.001): DataFrame = {
    val picks = simKnnGraphConverged(s, dir, k, maxIters, delta)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("nbr_id").as("vec_id"))
    simEvalAgainst(s, dir, picks, nQueries, k)
  }

  /** k-NN GRAPH construction via NN-Descent (`sim_knn_graph`; Dong,
    * Charikar & Li, "Efficient K-Nearest Neighbor Graph Construction
    * for Generic Similarity Measures", WWW 2011) — the GRAPH-based
    * member of the ANN family, completing IVF-flat/SQ8/PQ and
    * single/multi-table LSH. For a training-data pipeline the k-NN
    * graph is itself the deliverable (connected-component semantic
    * dedup, diversity sampling, and label propagation all consume
    * it), and NN-Descent is the one graph construction that is
    * NATURALLY data-parallel: "a neighbor of a neighbor is likely a
    * neighbor" becomes self-joins —
    *
    *   init    k deterministic pseudo-random seeds per vertex
    *           (affine hash mod (max id + 1), semi-joined to the
    *           existing ids; misses/collisions on sparse id spaces
    *           just seed thinner, which the descent repairs — the
    *           published algorithm's random init has the same
    *           property)
    *   iterate (fixed T) candidates = current ∪ reversed ∪
    *           neighbors-of-neighbors (one integer self-join on the
    *           shared endpoint); score DISTINCT candidates with the
    *           codegen'd cosine kernel; keep top-k per vertex
    *           (per-(a) window, map-side WindowGroupLimit partial)
    *
    * Scale shape: every shuffle is fixed-width (a, b) id pairs
    * bounded by n·(2k)² per round; vectors attach to candidates via
    * two id-keyed joins (co-partitioned with the corpus layout on a
    * cluster); no global window, no driver-side state beyond the
    * one-row max-id scalar. Graph SERVING (greedy walks) is
    * inherently sequential and deliberately out of scope — the
    * IVF/LSH tiers serve point queries; this operator builds the
    * graph artifact those batch consumers read.
    *
    * Cost model, honestly: T·n·(2k)² candidate scorings vs brute
    * force's n² — the descent's win is ASYMPTOTIC (n=2000: 2.4M vs
    * 4M, near breakeven and visible in the bench line; n=10⁶:
    * 1.2·10⁹ vs 10¹², ~800×). The paper's further constant-factor
    * lever (score only pairs involving a NEW neighbor) is noted, not
    * implemented — it complicates the replayable contract for a
    * constant factor the asymptotics already dominate.
    *
    * Fully deterministic (hash init, fixed T, total (cos DESC, id)
    * order), so the DuckDB oracle replays the ENTIRE descent — the
    * all-pairs cosine matrix once (the dedup_embedding pattern),
    * then T unrolled candidate/top-k rounds — and the final graph
    * hash-matches. */
  def simKnnGraph(s: SparkSession, dir: String, k: Int = 10, iters: Int = 3): DataFrame =
    knnDescentFixed(s, Tables.embeddings(s, dir), k, iters)

  /** [[simKnnGraph]]'s corpus-parameterized core — the fixed-T
    * hash-seeded descent over any (vec_id, embedding) frame, shared
    * with the incremental harness's base build
    * ([[simKnnGraphIncremental]]). */
  private[graft] def knnDescentFixed(s: SparkSession, corpus: DataFrame,
                                     k: Int = 10, iters: Int = 3,
                                     seedsOverride: Option[DataFrame] = None): DataFrame = {
    val e = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v")).cacheTracked
    val ids = e.select(col("vec_id"))
    val m = ids.agg((max(col("vec_id")) + 1).as("m")) // one-row scalar attach
    // `seedsOverride`: pre-derived (a, b) seed pairs — the SEGMENT
    // build's dense-rank LCG ([[denseLcgSeeds]]), where the default
    // mod-(max+1) draw over a sparse id subset would miss membership
    // almost surely and the descent would start near-edgeless
    val seeds = seedsOverride.getOrElse(ids.crossJoin(m)
      .select(col("vec_id").as("a"), explode(array((1 to k).map(j =>
        pmod(col("vec_id") * 1664525L + lit(j * 40503L), col("m"))): _*)).as("b"))
      .filter(col("a") =!= col("b"))
      .join(ids.select(col("vec_id").as("b")), Seq("b"), "left_semi"))
    val va = e.select(col("vec_id").as("a"), col("v").as("va"))
    val vb = e.select(col("vec_id").as("b"), col("v").as("vb"))
    def topk(cand: DataFrame): DataFrame =
      cand.join(va, "a").join(vb, "b")
        .withColumn("c", cosine(col("va"), col("vb")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("a").orderBy(col("c").desc, col("b"))))
        .filter(col("rn") <= k)
    var edges = seeds.select("a", "b").distinct()
    for (_ <- 1 to iters) {
      // TRUNCATE THE LOGICAL PLAN each round (eager [[Lineage.cut]]
      // — localCheckpoint by default, durable checkpoint() under
      // `graft.reliableCheckpointDir` for cluster runs where executor
      // loss mid-descent must be a retry, not a job failure): und appears 3× in the next
      // round's tree and edges 2× in und's, so the lazy chain grows
      // ~6× per round and ANALYSIS time — not execution — dominates
      // (measured at sf0.1: 36 s lazy, 21 s cache+count — count
      // forces execution but the analyzer still walks the whole
      // tree — vs 4.4 s with flat lineage). Session-scoped storage
      // is fine here —
      // this is transient in-query state, not durable compliance
      // state (contrast StagedRewrite).
      // cap REVERSE degree at k (deterministic lowest-id sample —
      // the paper's ρ·k reverse sampling): a popular vector attracts
      // unbounded in-edges, and without the cap the
      // neighbor-of-neighbor join is quadratic in hub degree instead
      // of bounded by n·(2k)²
      val rev = edges.select(col("b").as("a"), col("a").as("b"))
        .withColumn("rr", row_number().over(
          Window.partitionBy("a").orderBy("b")))
        .filter(col("rr") <= k).drop("rr")
      val und = edges.union(rev).distinct().cacheTracked
      val nn = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("y.b").as("b"))
        .filter(col("a") =!= col("b"))
      edges = Lineage.cut(topk(und.union(nn).distinct()).select("a", "b"))
    }
    topk(edges) // final pass re-derives rank + score for the output
      .select(col("a").as("vec_id"), col("rn").cast("long").as("rank"),
        col("b").as("nbr_id"), round(col("c"), 4).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** The PERSISTED k-NN graph (built once per dir × (k, iters) — the
    * [[ivfIndexTable]] lifecycle for the graph artifact): the
    * descent runs on first touch and every later consumer reads the
    * O(n·k) edge table instead of re-running it. The name is
    * dir+parameter-keyed; corpus GROWTH flows through
    * [[knnGraphAppend]] (incremental descent of the new vectors
    * against the frozen graph), deletion through [[knnGraphForget]]
    * — full rebuild remains the periodic full-quality path. */
  def knnGraphTable(s: SparkSession, dir: String, k: Int = 10, iters: Int = 3): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val table = s"graft_knn_graph_${slug}_${dirTag}_k${k}_t${iters}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      simKnnGraph(s, dir, k, iters)
        .write.format("parquet").saveAsTable(table)
    } else {
      // [[knnGraphForget]]/[[knnGraphAppend]] mutate this table via
      // StagedRewrite, so every READ accessor heals an interrupted
      // swap first (the suppressionTable invariant): a crash between
      // TRUNCATE and re-append otherwise leaves the graph EMPTY and
      // every consumer (components / label-prop / MIS) silently
      // returns singleton clusters until the next mutation runs.
      StagedRewrite.recover(s, table)
    }
    table
  }

  /** GRAPH-BASED ANN SERVING (`sim_graph_search`) — beam search over
    * the persisted k-NN graph, the QUERY PATH that makes the graph
    * artifact a serving structure and not just an analysis input
    * (the DiskANN / HNSW-layer-0 search discipline: Subramanya et
    * al., "DiskANN", NeurIPS 2019; Malkov & Yashunin, TPAMI 2018).
    * IVF answers "which cell"; the graph answers "walk toward the
    * query": start from entry points, repeatedly expand the current
    * best `beam` candidates through their graph edges, re-rank by
    * true cosine, keep the best `beam`, emit top-k after `hops`
    * rounds. FIXED hops is the serving form on purpose — query
    * latency is bounded by construction (each hop is one bounded
    * join, candidates ≤ queries·beam·(graphK+1) before re-rank),
    * the property a p99-governed serving tier needs; δ-style "walk
    * until no improvement" belongs to offline builds, not queries.
    *
    * Per hop, EVERY beam member expands (best-first-batch), not just
    * the single best — the batched form trades a little extra
    * scoring for one round-trip per hop instead of one per visited
    * vertex, which is the only shape that makes sense when a hop is
    * a distributed join over a MILLION concurrent queries rather
    * than a pointer chase in RAM.
    *
    * Entry points are the descent's own LCG hash seeds (replayable
    * contract — the DuckDB oracle unrolls seed → hop₁..hopₕ → top-k
    * exactly); a production deployment passes
    * `informedSeeds = true` to [[graphSearchCore]] and seeds from LSH
    * bucket-mates instead (the [[simKnnGraphConverged]] hybrid
    * argument: hash entry points can land a beam in a basin
    * transitivity never leaves — measured on the planted-clique
    * spec corpus 0.47 random vs 1.00 informed, and on the 10×-replica
    * twin 0.000 vs 0.952, where the LCG seeds additionally miss the
    * sparse key-shifted id space entirely). Serves queries NOT in the
    * corpus identically: nothing below reads the query's own graph
    * row, only its embedding.
    *
    * At 100 TB: queries shuffle by candidate id to meet the edge
    * table (O(hops) bounded joins against the O(n·graphK) artifact),
    * the per-query state is `beam` ids — no brute-force n·Q scoring
    * anywhere ([[simBruteforceTopK]] is the quality oracle, not the
    * serving path). Self-matches are excluded (a member query's
    * nearest neighbor is itself — serving returns NEIGHBORS). */
  def simGraphSearch(s: SparkSession, dir: String, nQueries: Int = 5,
                     k: Int = 10, beam: Int = 20, hops: Int = 3,
                     graphK: Int = 10, graphIters: Int = 3): DataFrame = {
    val graph = s.table(knnGraphTable(s, dir, graphK, graphIters))
      .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    graphSearchCore(graph, corpus, queries, k, beam, hops)
  }

  /** The fixed-T descent graph over the BASE corpus
    * (vec_id % 10 != 0) as a READ-ONLY persisted table — the serving
    * twin of [[knnGraphTableIncremental]]'s base build, but never
    * mutated (no append/forget touches it), so registry queries that
    * read it are order-independent. Built once per dir × (k, iters)
    * on first touch. */
  private[graft] def knnGraphTableBase(s: SparkSession, dir: String,
                                       k: Int = 10, iters: Int = 3): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val table = s"graft_knn_graph_base_${slug}_${dirTag}_k${k}_t${iters}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      knnDescentFixed(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 0), k, iters)
        .write.format("parquet").saveAsTable(table)
    }
    table
  }

  /** The CONVERGED descent graph over the BASE corpus as a read-only
    * persisted table — the PRODUCTION serving graph
    * ([[simKnnGraphConverged]]'s quality, [[knnGraphTableBase]]'s
    * held-out lifecycle): fixed-T edge recall collapses with n
    * (0.78 → 0.45 → 0.00 at n=500/2000/20000), so at-scale serving
    * quality claims must be measured over THIS artifact, not the
    * fixed-T harness graph. Built once per dir × k on first touch;
    * consumed by [[graphServeRecallRow]]; round 14's serving-quality
    * matrix was measured over it. */
  private[graft] def knnGraphTableBaseConverged(s: SparkSession, dir: String,
                                                k: Int = 10): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val table = s"graft_knn_graph_basec_${slug}_${dirTag}_k${k}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      knnDescentConverged(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 0), k)
        .write.format("parquet").saveAsTable(table)
    }
    table
  }

  /** SERVING-TIER quality row over the PRODUCTION graph — held-out
    * queries (vec_id % 10 == 0, never seen by the build) walked
    * through the CONVERGED base graph, scored against exact brute
    * force over the base corpus: (n_exact, n_ann, n_hit, recall) in
    * the [[simEvalAgainst]] dashboard shape. This is the number a
    * rollout watches for the walk itself — [[knnGraphRecallRow]]
    * watches the BUILD's edge quality; this row adds the query path
    * (seeds + hops + beam) on top, over the graph that would actually
    * serve at scale (the fixed-T harness graph's edge recall
    * collapses with n, so measuring the walk over it says nothing at
    * 10×). `informed` switches the walk to LSH bucket-mate entry
    * points ([[graphSearchCore]]) — the production seeding whose gap
    * over random seeds grows with corpus structure. */
  def graphServeRecallRow(s: SparkSession, dir: String, nQueries: Int = 5,
                          k: Int = 10, beam: Int = 20, hops: Int = 3,
                          informed: Boolean = false): DataFrame = {
    val graph = s.table(knnGraphTableBaseConverged(s, dir, k))
      .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val corpus = all.filter(col("vec_id") % 10 =!= 0).cacheTracked
    val queries = all
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < nQueries * 10L)
      .select(col("vec_id").as("qid"), col("v").as("qv")).cacheTracked
    val served = graphSearchCore(graph, corpus, queries, k, beam, hops,
      informedSeeds = informed)
    // exact side: brute-force top-k of each held-out query against
    // the BASE corpus (the only population the walk can answer from)
    val exact = queries.join(
        corpus.select(col("vec_id"), col("v")),
        col("qid") =!= col("vec_id"))
      .withColumn("c", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("c").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select("qid", "vec_id").cacheTracked
    val annIds = served.select("qid", "vec_id").cacheTracked
    val hit = annIds.join(exact, Seq("qid", "vec_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(annIds.agg(count(lit(1)).as("n_ann")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_ann"), col("n_hit"),
        round(when(col("n_exact") === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_exact").cast("double")), 4)
          .as("recall"))
  }

  /** HELD-OUT serving (`sim_graph_search_heldout`) — the REAL
    * production shape hash-verified: the graph is built over the
    * base corpus only (vec_id % 10 != 0), and the queries are
    * held-out vectors the graph has NEVER seen (vec_id % 10 == 0) —
    * the walk reads only their embeddings (seed scoring + re-rank),
    * never a graph row, so this is exactly "a new query vector
    * arrives at the serving tier". Answers are drawn from the BASE
    * corpus by construction (the walk can only reach graph
    * vertices + seed members). Same fixed-T/fixed-hops replayable
    * contract as [[simGraphSearch]]; the oracle unrolls the
    * base-only descent and walks the held-out seeds over it. */
  def simGraphSearchHeldOut(s: SparkSession, dir: String, nQueries: Int = 5,
                            k: Int = 10, beam: Int = 20, hops: Int = 3,
                            graphK: Int = 10, graphIters: Int = 3): DataFrame = {
    val graph = s.table(knnGraphTableBase(s, dir, graphK, graphIters))
      .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
    val all = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val corpus = all.filter(col("vec_id") % 10 =!= 0)
    val queries = all
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < nQueries * 10L)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    graphSearchCore(graph, corpus, queries, k, beam, hops)
  }

  /** CONSTRAINED graph serving (`sim_graph_search_filtered`) — the
    * filtered-ANN member of the serving family (every production
    * vector store grows one: "nearest neighbors WHERE lang = X /
    * license-clean / in-split"). The TRAVERSAL stays UNFILTERED —
    * restricting the beam to allowed vertices cuts connectivity and
    * strands the walk when disallowed vertices are the bridges (the
    * filtered-DiskANN lesson: filter the ANSWER, not the graph) —
    * and the answer is the top-k ALLOWED candidates among every
    * candidate the walk scored (seeds + each hop's expansion), so a
    * selective filter degrades recall gracefully instead of
    * silently shrinking the result set to whatever the final beam
    * happens to retain. The allow-list is a semi-join keyed on id —
    * at 100 TB a map-side probe against the (bucketed) metadata
    * table, never a scan of the vector corpus.
    *
    * DEGRADATION CONTRACT, measured: under a RARE filter the bounded
    * visited pool (~seeds + hops·beam·(graphK+1) ids) can contain
    * fewer than k allowed ids, and the result set SHRINKS rather
    * than stranding the walk or leaking disallowed picks. At 1%
    * selectivity 47/50 queries return short at beam=20/hops=3 and
    * 28/50 at beam=40/hops=5; at ≥5% shortfall is zero at both
    * widths (DedupSimilaritySpec's shortfall table). Guidance: a
    * caller with a ≲1% filter should widen beam/hops (the pool grows
    * linearly in both) or pre-filter the corpus and search a
    * dedicated per-segment graph — the standard filtered-ANN
    * trade. */
  def simGraphSearchFiltered(s: SparkSession, dir: String, lang: String = "en",
                             nQueries: Int = 5, k: Int = 10, beam: Int = 20,
                             hops: Int = 3, graphK: Int = 10,
                             graphIters: Int = 3): DataFrame = {
    val graph = s.table(knnGraphTable(s, dir, graphK, graphIters))
      .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val allowed = Tables.documents(s, dir)
      .filter(col("lang") === lang).select(col("doc_id").as("b"))
    graphSearchCore(graph, corpus, queries, k, beam, hops, Some(allowed))
  }

  /** HARD-NEGATIVE MINING (`sim_hard_negatives`) — the contrastive-
    * training data op: per query, the top-k corpus vectors inside a
    * cosine BAND [lo, hi). Above `hi` sits near-duplicate territory
    * (training on those as negatives poisons the objective — they
    * are positives mislabeled); below `lo` negatives are too easy to
    * carry gradient. The band is mined with the SAME beam walk as
    * [[simGraphSearch]] (hard negatives are by definition near the
    * query, exactly where the graph walk concentrates candidates),
    * band-filtered at the final re-rank over every scored candidate
    * — the [[simGraphSearchFiltered]] pool contract with a score
    * predicate instead of a metadata allow-list. Same bounded-state
    * serving shape; brute force remains the quality oracle, not the
    * pipeline. */
  def simHardNegatives(s: SparkSession, dir: String, lo: Double = 0.3,
                       hi: Double = 0.6, nQueries: Int = 5, k: Int = 10,
                       beam: Int = 20, hops: Int = 3, graphK: Int = 10,
                       graphIters: Int = 3): DataFrame = {
    val graph = s.table(knnGraphTable(s, dir, graphK, graphIters))
      .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    graphSearchCore(graph, corpus, queries, k, beam, hops,
      band = Some((lo, hi)))
  }

  /** LANG-FILTERED HARD-NEGATIVE MINING (`sim_hard_negatives_filtered`)
    * — the constraint COMPOSITION the serving family's pool contract
    * exists for: per query, the top-k corpus vectors that are BOTH
    * metadata-allowed (lang = X — negatives for a monolingual
    * contrastive objective must come from the model's own language)
    * AND inside the cosine band [lo, hi) (below near-duplicate
    * territory, above gradient-free easiness). One beam walk, both
    * predicates cutting the same scored seen-pool —
    * [[simGraphSearchFiltered]]'s allow-list ∧ [[simHardNegatives]]'s
    * band, exactly the composed form the core's spec asserts. */
  def simHardNegativesFiltered(s: SparkSession, dir: String, lang: String = "en",
                               lo: Double = 0.3, hi: Double = 0.6,
                               nQueries: Int = 5, k: Int = 10, beam: Int = 20,
                               hops: Int = 3, graphK: Int = 10,
                               graphIters: Int = 3): DataFrame = {
    val graph = s.table(knnGraphTable(s, dir, graphK, graphIters))
      .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val allowed = Tables.documents(s, dir)
      .filter(col("lang") === lang).select(col("doc_id").as("b"))
    graphSearchCore(graph, corpus, queries, k, beam, hops,
      allowed = Some(allowed), band = Some((lo, hi)))
  }

  /** [[simGraphSearch]]'s graph/corpus/query-parameterized core —
    * `queries` is any (qid, qv) frame, NOT necessarily members of
    * `corpus`: the search touches only the query's embedding (seed
    * scoring + re-rank), never its graph row, so held-out vectors
    * serve identically — the spec proves exactly that shape
    * (graph built on 90% of the corpus, the held-out 10% searched
    * against it). With `allowed` set, the walk is identical and the
    * answer becomes the top-k allowed ids among EVERY candidate the
    * walk scored ([[simGraphSearchFiltered]]'s contract); the
    * visited pool is bounded by queries × (beam + hops·beam·(k+1))
    * ids — fixed-width, never corpus-sized. */
  private[graft] def graphSearchCore(graph: DataFrame, corpus: DataFrame,
                                     queries: DataFrame, k: Int, beam: Int,
                                     hops: Int,
                                     allowed: Option[DataFrame] = None,
                                     band: Option[(Double, Double)] = None,
                                     informedSeeds: Boolean = false,
                                     seedMates: Option[DataFrame] = None,
                                     seedSample: Option[DataFrame] = None,
                                     seedsOverride: Option[DataFrame] = None): DataFrame = {
    val ids = corpus.select(col("vec_id"))
    val m = ids.agg((max(col("vec_id")) + 1).as("m")) // one-row scalar attach
    val lcgSeeds = queries.select("qid").crossJoin(m)
      .select(col("qid"), explode(array((1 to beam).map(j =>
        pmod(col("qid") * 1664525L + lit(j * 40503L), col("m"))): _*)).as("b"))
      .filter(col("qid") =!= col("b"))
      .join(ids.select(col("vec_id").as("b")), Seq("b"), "left_semi")
      .select("qid", "b").distinct()
    // INFORMED entry points (the DiskANN-medoid / HNSW-upper-layer
    // role, expressed with the repo's own machinery): seed each query
    // from its LSH BUCKET-MATES — the same 4-table sign-LSH family
    // the converged descent uses for init, because the failure mode
    // is the same ([[simKnnGraphConverged]]: a random-seeded walk
    // cannot enter an isolated high-similarity basin that no seed
    // chain touches; at 10⁹ vertices 20 random seeds × 3 hops reach a
    // vanishing neighborhood fraction). Bucket-mates start the beam
    // INSIDE the query's basin w.h.p. Every informed query ALSO gets
    // fallback seeds (unconditional — see the sample block below), so
    // a query whose buckets come up empty still walks from a
    // deterministic HASH-SAMPLE of EXISTING ids — NOT the LCG seeds:
    // LCG draws ids mod (max+1),
    // which on a sparse/non-contiguous id space (key-shifted shards,
    // post-forget corpora — the 10×-replica twin's 9·10⁸ id span over
    // 2·10⁴ rows) misses the membership semi-join almost surely and a
    // query walks from ZERO entry points (measured: 1999/2000 empty
    // result sets). One bounded global top-(4·beam) by xxhash64 of
    // the id column makes the informed seed set a function of the
    // corpus CONTENTS, never the id-space shape. Scale shape: one
    // bucketed corpus scan per table joined to the query-side probe
    // rows on the bucket key (the simLshMultiTable plan) plus one
    // TakeOrdered(4·beam) scan; mates capped at `beam` per query
    // under a deterministic xxhash64 order. Registry queries keep the
    // default (false): the DuckDB oracle replays the LCG contract,
    // which is exact on the dense registry id spaces.
    // `seedsOverride` supplies pre-derived (qid, b) entry points
    // verbatim — the SEGMENT walk's dense-rank LCG contract
    // ([[simGraphSearchSegment]]), where drawing mod (max+1) over a
    // sparse segment id space would miss membership almost surely
    val seeds = seedsOverride.getOrElse(if (!informedSeeds) lcgSeeds else {
      // ADAPTIVE plane count (dedupEmbeddingAnn's formula): buckets
      // must stay basin-sized as n grows, or the beam-sized
      // hash-ordered cap below keeps mostly strangers — measured at
      // the 20k replica with 7 fixed planes: ~156 vectors/bucket, so
      // a query's 9 planted twins survive the 20-of-~600-mates cap
      // with P≈0.26 and member recall lands at 0.289; at
      // ceil(log2((n+64)/2)) = 14 planes buckets hold ~1.2 and the
      // cap never binds. The one count() is a bounded aggregate paid
      // once per serve BATCH, amortized over every query in it.
      // `seedMates` short-circuits the corpus-side hashing with
      // pre-derived (qid, b) mate pairs from the PERSISTED
      // [[lshSeedTable]] artifact — at 100 TB the per-batch corpus
      // hash scan becomes a build-time cost (the same cap + fallback
      // apply, so table-fed and inline seeding are row-identical,
      // spec-asserted).
      val rawMates = seedMates.getOrElse {
        val nPlanes = lshSeedPlaneCount(corpus.count())
        lshTablePlanes(nTables = 4, numPlanes = nPlanes).map { p =>
          val cb = corpus.select(col("vec_id").as("b"), lshBucket(col("v"), p).as("bk"))
          val qb = queries.select(col("qid"), lshBucket(col("qv"), p).as("bk"))
          cb.join(qb, "bk").filter(col("qid") =!= col("b")).select("qid", "b")
        }.reduce(_ union _)
      }
      val mates = rawMates.distinct()
        .withColumn("rr", row_number().over(
          // col("b") breaks xxhash64 ties — without it a within-qid
          // hash collision makes the retained mate set depend on
          // partition order, breaking inline-vs-table-fed row identity
          Window.partitionBy("qid").orderBy(xxhash64(col("qid"), col("b")), col("b"))))
        .filter(col("rr") <= beam).select("qid", "b")
      // The hash-sample fallback is UNCONDITIONAL: every informed
      // query gets its ≤beam fallback seeds alongside its bucket-mates
      // (≤2·beam seeds total), not only the queries whose buckets came
      // up empty. That is deliberate and cheap — the extra seeds are
      // scored once at hop 0 and the first beam cut drops the losers
      // before any expansion, so the overhead is one bounded scoring
      // join, while a conditional form would need an extra per-batch
      // anti-join just to save it. All published recall/q/s numbers
      // measure this unconditional form. `seedSample` feeds the
      // 4·beam-row sample from the PERSISTED artifact ([[
      // informedSeedSample]], stored with [[lshSeedTable]]) — with
      // both seedMates and seedSample set, seed derivation touches no
      // corpus-sized input at serve time.
      val sample = seedSample.getOrElse {
        ids.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(4 * beam)
          .select(col("vec_id").as("b"))
      }
      val fallback = queries.select("qid").crossJoin(sample)
        .filter(col("qid") =!= col("b"))
        .withColumn("rr", row_number().over(
          Window.partitionBy("qid").orderBy(xxhash64(col("qid"), col("b")), col("b"))))
        .filter(col("rr") <= beam).select("qid", "b")
      mates.union(fallback).distinct()
    })
    val vb = corpus.select(col("vec_id").as("b"), col("v").as("vb"))
    // score = the ONLY corpus touch per hop: candidates meet their
    // vectors once, and the checkpointed (qid, b, c) state carries the
    // scores forward — the final answer is a window FILTER over
    // already-scored state, never a re-scan of the vector corpus
    // (at 100 TB a tail re-rank join would cost one full corpus scan
    // for a pool of a few thousand ids)
    require(k <= beam,
      s"k ($k) must be <= beam ($beam): the final top-k is drawn from " +
        "beam-bounded state (and the oracle's contract caps at beam)")
    def score(cand: DataFrame): DataFrame =
      cand.join(vb, "b").join(queries, "qid")
        .withColumn("c", cosine(col("qv"), col("vb")))
        .select("qid", "b", "c")
    // independent of any frame — rank within qid by (cosine DESC, id),
    // the family's one total order
    val rank: Column = row_number().over(
      Window.partitionBy("qid").orderBy(col("c").desc, col("b")))
    // same lineage discipline as the descent loops: hops is small,
    // but each round's plan embeds the last 2× — cut it flat (the
    // cut also materializes each hop's scores so the seen-pool union
    // replays checkpointed state, not the hop joins)
    var scored = Lineage.cut(score(seeds))
    var seenScored = scored // every scored candidate, pre-beam-cut
    for (_ <- 1 to hops) {
      val bm = scored.withColumn("rn", rank)
        .filter(col("rn") <= beam).select("qid", "b")
      val expand = bm.join(graph, bm("b") === graph("ga"))
        .select(col("qid"), col("gb").as("b"))
        .filter(col("qid") =!= col("b"))
      scored = Lineage.cut(score(bm.union(expand).distinct()))
      seenScored = seenScored.union(scored)
    }
    // constraints COMPOSE: an allow-list and a band both cut the same
    // seen pool (a lang-filtered hard-negative mine applies both);
    // with neither, the contract is top-k of the FINAL beam — the
    // last hop's scored state already holds it (k ≤ beam, above)
    val eligible = (allowed, band) match {
      case (None, None) => scored
      case _ =>
        val pool = seenScored.dropDuplicates("qid", "b")
        val allowedPool = allowed match {
          case Some(ok) => pool.join(ok, Seq("b"), "left_semi")
          case None     => pool
        }
        band match {
          // band filter on the ROUNDED score (both engines compare
          // the same 4-digit value, the dedup-family rounding
          // contract): keep lo ≤ round(c) < hi — below-duplicate,
          // above-easy
          case Some((lo, hi)) =>
            allowedPool.filter(round(col("c"), 4) >= lo && round(col("c"), 4) < hi)
          case None => allowedPool
        }
    }
    eligible
      .withColumn("rn", rank)
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn").cast("long").as("rank"),
        col("b").as("vec_id"), round(col("c"), 4).as("cosine"))
      .orderBy("qid", "rank")
  }

  /** Adaptive LSH plane count for seed buckets —
    * ceil(log2((n+64)/2)) clamped to [7, 16] (dedupEmbeddingAnn's
    * corpus-adaptive formula): buckets stay basin-sized as n grows,
    * which the informed-seed mate cap depends on (measured at the
    * 20k replica: 7 fixed planes → ~156/bucket → 0.289 member
    * recall; 14 adaptive planes → ~1.2/bucket → 0.952). */
  private[graft] def lshSeedPlaneCount(n: Long): Int =
    math.min(16, math.max(7,
      math.ceil(math.log((n + 64) / 2.0) / math.log(2.0)).toInt))

  /** Plane count pinned in an [[lshSeedTable]] name's `_p<n>_v1`
    * suffix — the single source of truth every consumer (append,
    * query-side hashing, occupancy audit) parses instead of
    * re-deriving from a corpus count that may have moved since the
    * build. */
  private[graft] def lshSeedTablePlanes(table: String): Int =
    "_p(\\d+)_v\\d+$".r.findFirstMatchIn(table) match {
      case Some(m) => m.group(1).toInt
      case None => throw new IllegalArgumentException(
        s"$table is not an lshSeedTable name (missing _p<n>_v<k> suffix)")
    }

  /** The PERSISTED seed-bucket artifact for informed graph serving —
    * the [[ivfIndexTable]] lifecycle applied to the entry-point
    * machinery: one build-time pass hashes every corpus vector into
    * its 4 sign-LSH tables (adaptive plane count, one row per
    * (table, bucket, vec_id)) so a serve batch derives its
    * bucket-mates by hashing ONLY the query vectors (tiny) and
    * joining the artifact on (t, bk) — at 100 TB the per-batch
    * corpus-wide hash scan the inline informed path pays becomes a
    * one-time build cost, and the per-batch cost tracks the query
    * rate. Keyed on dir + plane count; corpus growth flows through
    * rebuild (the artifact is derived state — drop and re-touch),
    * matching the codebook/band-table discipline. Defined over the
    * FULL corpus — the member/bulk re-query serving shape; a
    * base-subset walk (held-out harness) seeds inline, because its
    * mates must be drawn from the subset only. COMPLIANCE: a
    * forgotten vector needs no artifact rewrite — seed ids absent
    * from the serving corpus drop at the walk's first scoring join
    * (vectors attach by id), so a stale seed row can never surface a
    * deleted vector; rebuild reclaims the storage. */
  def lshSeedTable(s: SparkSession, dir: String): String = {
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val nPlanes = lshSeedPlaneCount(Tables.rowCount(s, dir, "embeddings"))
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    // _v2: the artifact also carries the FALLBACK SAMPLE under the
    // sentinel table id t = -1 (bk = xxhash64(vec_id), the sort key;
    // bottom-[[SeedSampleCap]] ids) — see [[informedSeedSample]]
    val table = s"graft_lsh_seed_${slug}_${dirTag}_p${nPlanes}_v2"
    buildSeedTableIfAbsent(s, table,
      genPrefix = s"graft_lsh_seed_${slug}_${dirTag}_p",
      corpus = corpus, nPlanes = nPlanes)
    table
  }

  /** PER-SEGMENT seed-bucket artifact — [[lshSeedTable]] scoped to a
    * declared segment's member set, keyed (dir, segKey): the serving
    * piece that makes INFORMED per-segment walks
    * ([[simGraphSearchSegment]] with `informedSeeds = true`, the
    * large-segment production form) corpus-scan-free at serve time.
    * Without it the informed segment walk re-hashes every segment
    * member per serve batch — the same per-batch O(corpus) class the
    * full-graph path eliminated in round 15. Plane count adaptive on
    * SEGMENT size; same v2 schema (4 LSH tables + the t = -1 fallback
    * sample), so [[seedMatesFromTable]], [[seedSampleRead]],
    * [[lshSeedAppend]] and [[seedArtifactHealthRow]] all apply
    * unchanged (table-parameterized lifecycle, like the segment
    * graph's). Stale generations swept within the (dir, segKey)
    * family only. */
  def lshSeedTableSegment(s: SparkSession, dir: String, segKey: String,
                          members: DataFrame): String = {
    require(segKey.matches("[a-z0-9_]{1,32}"),
      s"segment key must be a short lowercase slug, got '$segKey'")
    val m = members.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val nPlanes = lshSeedPlaneCount(m.count())
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val table = s"graft_lsh_seed_seg_${slug}_${dirTag}_${segKey}_p${nPlanes}_v2"
    buildSeedTableIfAbsent(s, table,
      genPrefix = s"graft_lsh_seed_seg_${slug}_${dirTag}_${segKey}_p",
      corpus = m, nPlanes = nPlanes)
    table
  }

  /** Shared build for the seed-bucket artifact family. The
    * stale-generation sweep (the slug-migration discipline): after
    * corpus growth crosses a plane boundary the adaptive count
    * changes and a new session builds the new generation — without
    * the drop the old one sits orphaned, and an ingest loop still
    * holding its name would keep maintaining an artifact nothing
    * serves from. The drop makes that divergence LOUD (the loop's
    * next append fails → operator re-resolves) and reclaims the
    * storage; seed buckets are derived state, so rebuild re-derives
    * everything. The same sweep retires pre-sample `_p<n>_v1` schema
    * generations. Inside the build branch only: the accessor sits on
    * the per-batch serve path, and a catalog enumeration per batch
    * would be pure overhead once the current generation exists (at
    * which point prior builds already swept). */
  private def buildSeedTableIfAbsent(s: SparkSession, table: String,
                                     genPrefix: String, corpus: DataFrame,
                                     nPlanes: Int): Unit =
    if (!s.catalog.tableExists(table)) {
      s.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith(genPrefix) && n.matches(".*_p\\d+_v\\d+$")
          && n != table)
        .foreach(n => s.sql(s"DROP TABLE $n"))
      graft.sources.Sources.clearOrphanedLocation(s, table)
      val planeSets = lshTablePlanes(nTables = 4, numPlanes = nPlanes)
      val bucketRows = corpus
        .withColumn("buckets",
          array(planeSets.map(p => lshBucket(col("v"), p)): _*))
        .select(col("vec_id").as("b"),
          posexplode(col("buckets")).as(Seq("t", "bk")))
        .select(col("t"), col("bk"), col("b"))
      // fallback-sample rows: the bottom-SeedSampleCap corpus ids by
      // (xxhash64(id), id) — the same deterministic order the inline
      // fallback uses, so a 4·beam read-time prefix of these rows is
      // row-identical to the inline sample for any beam ≤ cap/4
      val sampleRows = corpus
        .select(col("vec_id").as("b"), xxhash64(col("vec_id")).as("bk"))
        .orderBy(col("bk"), col("b")).limit(SeedSampleCap)
        .select(lit(-1).as("t"), col("bk"), col("b"))
      bucketRows.union(sampleRows)
        .repartition(col("t"), col("bk"))
        .write.format("parquet").saveAsTable(table)
    }

  /** Fallback-sample capacity persisted with [[lshSeedTable]] (t = -1
    * rows): serves any beam ≤ cap/4 table-fed. 512 covers the default
    * beam (20 → 80 rows) through two adaptive doublings (80 → 320). */
  private[graft] val SeedSampleCap = 512

  /** The informed-seed FALLBACK SAMPLE from the persisted
    * [[lshSeedTable]] — the t = -1 rows pruned to the 4·beam smallest
    * (hash, id) pairs, row-identical to the inline
    * `ids.orderBy(xxhash64, id).limit(4·beam)` sample by construction:
    * the build stores the bottom-[[SeedSampleCap]] ids under the same
    * order, and [[lshSeedAppend]] admits a new id whenever its hash
    * could enter that bottom set (a superset is kept; the read-time
    * prune restores exactness). With this and [[informedSeedMates]]
    * both fed to [[graphSearchCore]], serve-time seed derivation reads
    * ONLY the artifact — the last per-batch O(corpus) touch on the
    * table-fed path (a TakeOrdered over the full id column) becomes a
    * ≤ ~cap-row artifact read. */
  def informedSeedSample(s: SparkSession, dir: String, beam: Int): DataFrame =
    seedSampleRead(s.table(lshSeedTable(s, dir)), beam)

  /** The read-time prune behind [[informedSeedSample]], on an
    * already-resolved artifact frame. */
  private[graft] def seedSampleRead(artifact: DataFrame, beam: Int): DataFrame = {
    require(4 * beam <= SeedSampleCap,
      s"beam $beam exceeds the persisted sample capacity " +
        s"($SeedSampleCap/4 = ${SeedSampleCap / 4}) — use the inline sample")
    artifact.filter(col("t") === -1)
      .orderBy(col("bk"), col("b")).limit(4 * beam)
      .select(col("b"))
  }

  /** STALENESS ALARM for the seed-bucket artifact — the dashboard row
    * that makes the measured 0.289-recall cliff visible BEFORE recall
    * is measured. The failure mode: [[lshSeedAppend]] pins the build's
    * plane count, so corpus growth silently fattens buckets until the
    * beam-capped mate set is mostly strangers (measured at the 20k
    * replica: 7 pinned planes → ~156 vectors/bucket → member recall
    * 0.289, vs 0.952 after the adaptive rebuild). One row per call,
    * the [[graphServeRecallRow]] family shape:
    *
    *   - `pinned_planes` (the table's `_p<n>` suffix) vs
    *     `adaptive_planes` (the formula at the CURRENT corpus size);
    *     `stale` fires when they disagree by MORE THAN ONE plane —
    *     one plane ≈ 2× occupancy, inside the mate cap's slack; two
    *     means buckets run ≥4× basin size and a rebuild is due.
    *   - occupancy ground truth (`mean_bucket`, `p95_bucket` over the
    *     t ≥ 0 rows vs the ~2/bucket basin target) — the direct
    *     measurement the plane comparison predicts, and the one that
    *     also catches a SKEWED corpus (hot buckets at the right plane
    *     count).
    *   - `sample_rows` vs [[SeedSampleCap]] (`sample_over_cap` at 4×):
    *     the t = -1 superset grows between rebuilds; read cost stays
    *     pruned, but a wildly oversize set marks an artifact built
    *     under-capacity and grown far past it — rebuild reclaims it.
    *
    * Takes the TABLE NAME (not the dir accessor, which auto-rebuilds
    * at the current adaptive count and can therefore never observe
    * drift) — the ingest-loop shape, where the loop holds a pinned
    * name across corpus growth. Cost: one bounded corpus count + one
    * artifact aggregate. */
  def seedArtifactHealthRow(s: SparkSession, table: String,
                            corpus: DataFrame): DataFrame = {
    val pinned = lshSeedTablePlanes(table)
    val n = corpus.count()
    val adaptive = lshSeedPlaneCount(n)
    val art = s.table(table)
    val occ = art.filter(col("t") >= 0)
      .groupBy("t", "bk").agg(count(lit(1)).as("sz"))
      .agg(round(avg(col("sz")), 2).as("mean_bucket"),
        percentile_approx(col("sz"), lit(0.95), lit(10000)).as("p95_bucket"))
    val samp = art.filter(col("t") === -1)
      .agg(count(lit(1)).as("sample_rows"))
    occ.crossJoin(samp) // two one-row scalar attaches
      .select(lit(table).as("table"),
        lit(n).as("n_corpus"),
        lit(pinned).as("pinned_planes"),
        lit(adaptive).as("adaptive_planes"),
        lit(adaptive - pinned).as("plane_drift"),
        lit(math.abs(adaptive - pinned) > 1).as("stale"),
        col("mean_bucket"), col("p95_bucket"),
        col("sample_rows"),
        (col("sample_rows") > lit(4L * SeedSampleCap)).as("sample_over_cap"))
  }

  /** Corpus GROWTH for the seed-bucket artifact — the
    * [[ivfIndexAppend]] discipline: hash ONLY the new vectors into
    * the table's own plane family and append. Because a bucket id is
    * a PURE FUNCTION of the vector (no training state, no
    * neighbors), append is REBUILD-IDENTICAL by construction at the
    * same plane count — the strongest freshness contract in the
    * artifact family, spec-asserted row-for-row on the bucket rows
    * (t ≥ 0). The t = -1 fallback-sample rows are rebuild-identical
    * AT READ LEVEL instead: append keeps a bounded SUPERSET of the
    * true bottom-hash set and [[informedSeedSample]]'s prune restores
    * exactness (spec-asserted against a from-scratch rebuild). The
    * plane count is
    * pinned at build time (parsed from the `_p<n>_v2` suffix, which
    * the accessor controls): growing n eventually wants more planes
    * — that is a REBUILD (drop and re-touch re-derives the adaptive
    * count), exactly like the IVF codebook refit; append keeps
    * serving fresh between rebuilds. Idempotent: already-present ids
    * anti-join away. */
  def lshSeedAppend(s: SparkSession, table: String, vecs: DataFrame): Unit = {
    val nPlanes = lshSeedTablePlanes(table)
    val planeSets = lshTablePlanes(nTables = 4, numPlanes = nPlanes)
    // membership via table t=0 only: every vector lands in all 4 LSH
    // tables in one committed insert, so t=0 membership ≡ membership —
    // a pushed-filter scan of 1/4 the artifact rows with no distinct
    // aggregate (within one table, b is unique by construction)
    val existing = s.table(table).filter(col("t") === 0)
      .select(col("b").as("vec_id"))
    val fresh = vecs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(existing, Seq("vec_id"), "left_anti")
    val bucketRows = fresh
      .withColumn("buckets",
        array(planeSets.map(p => lshBucket(col("v"), p)): _*))
      .select(col("vec_id").as("b"),
        posexplode(col("buckets")).as(Seq("t", "bk")))
      .select(col("t"), col("bk"), col("b"))
    // fallback-sample maintenance (t = -1): admit a new id whenever
    // its hash COULD belong to the bottom-SeedSampleCap of the grown
    // corpus — any h ≤ the kept set's max (which never grows: admitted
    // rows satisfy the same bound), or everything while the set is
    // under capacity — AND cap admissions at SeedSampleCap bottom-
    // (bk, b) rows per append: a single large append to a fresh or
    // under-capacity artifact would otherwise write O(batch) sample
    // rows (the health spec's 8× balloon), unbounded storage between
    // rebuilds for rows the read-time prune discards anyway. A fresh
    // row in the true bottom set of the grown corpus is necessarily
    // within the bottom cap of THIS batch (fewer than cap union rows
    // below it ⇒ fewer than cap fresh rows below it), so the kept
    // set stays a superset of the true bottom set;
    // [[informedSeedSample]]'s read-time prune restores the exact
    // inline sample. One bounded aggregate over ≤ ~cap kept rows per
    // append; expected admissions decay as cap/n.
    val samp = s.table(table).filter(col("t") === -1)
      .agg(count(lit(1)).as("n"), max(col("bk")).as("mx")).head()
    val underCap = samp.getLong(0) < SeedSampleCap
    val maxKept = if (samp.isNullAt(1)) Long.MaxValue else samp.getLong(1)
    val sampleRows = fresh
      .select(col("vec_id").as("b"), xxhash64(col("vec_id")).as("bk"))
      .filter(lit(underCap) || col("bk") <= maxKept)
      .orderBy(col("bk"), col("b")).limit(SeedSampleCap)
      .select(lit(-1).as("t"), col("bk"), col("b"))
    bucketRows.union(sampleRows)
      .repartition(col("t"), col("bk"))
      .write.mode("append").insertInto(table)
  }

  /** Informed-seed mate pairs from the PERSISTED [[lshSeedTable]] —
    * hash the query vectors (4 kernel calls over the batch), join the
    * artifact on (t, bk). Row-identical to the inline informed path
    * by construction (same planes, same cap, same fallback —
    * spec-asserted), with the corpus-side hashing paid at build time
    * instead of per batch. */
  def informedSeedMates(s: SparkSession, dir: String,
                        queries: DataFrame): DataFrame =
    seedMatesFromTable(s, lshSeedTable(s, dir), queries)

  /** [[informedSeedMates]] on an already-resolved artifact table —
    * the shared core the full-corpus and per-segment paths both
    * call. */
  private[graft] def seedMatesFromTable(s: SparkSession, table: String,
                                        queries: DataFrame): DataFrame = {
    // plane count parsed from the RESOLVED table's _p<n>_v<k> suffix —
    // the single source of truth. Re-deriving from the current corpus
    // count would, after growth across a plane-count boundary (a
    // GraphIngest loop appending to a pinned-plane table), silently
    // hash queries with MORE planes than the artifact rows carry and
    // every (t, bk) join would miss; worse, lshSeedTable above keys on
    // the adaptive count and would build a SECOND generation, orphaning
    // the one the ingest loop still maintains — so stale generations
    // are dropped there, and the query side always matches the table.
    val nPlanes = lshSeedTablePlanes(table)
    val planeSets = lshTablePlanes(nTables = 4, numPlanes = nPlanes)
    val qb = queries
      .withColumn("buckets",
        array(planeSets.map(p => lshBucket(col("qv"), p)): _*))
      .select(col("qid"), posexplode(col("buckets")).as(Seq("t", "bk")))
    s.table(table).join(qb, Seq("t", "bk"))
      .filter(col("qid") =!= col("b")).select("qid", "b")
  }

  /** AUTO-WIDENING filtered graph search — the self-healing form of
    * the [[simGraphSearchFiltered]] degradation contract: under a
    * rare allow-list the bounded visited pool can hold fewer than k
    * allowed ids and the result set shrinks (measured: 1%
    * selectivity leaves 47/50 queries short at beam=20/hops=3).
    * This wrapper RETRIES ONLY THE SHORT QUERIES with doubled beam
    * and +2 hops, up to `maxDoublings` rounds — the retry query set
    * shrinks monotonically (filled queries keep their first
    * full-width answer; re-walking them would change nothing but
    * cost), so total work is bounded by
    * Σ |still-short queries| · widened-pool, and a query that cannot
    * fill within the budget returns its short set rather than
    * looping (the caller's signal to pre-filter the corpus and build
    * a per-segment graph instead — the standard filtered-ANN trade).
    * Deterministic: each round is the deterministic core walk over a
    * deterministic query subset. */
  def graphSearchFilteredAdaptive(graph: DataFrame, corpus: DataFrame,
                                  queries: DataFrame, allowed: DataFrame,
                                  k: Int, beam: Int = 20, hops: Int = 3,
                                  maxDoublings: Int = 2,
                                  informedSeeds: Boolean = false): DataFrame = {
    var result = Lineage.cut(graphSearchCore(graph, corpus, queries, k,
      beam, hops, allowed = Some(allowed), informedSeeds = informedSeeds))
    var remaining = queries
    var b = beam; var h = hops
    var attempt = 0
    var done = false
    while (attempt < maxDoublings && !done) {
      attempt += 1
      // short = queries whose result set has fewer than k picks —
      // counted from the QUERY frame so fully-empty sets are seen
      val shortQ = Lineage.cut(remaining.join(
          result.groupBy("qid").agg(count(lit(1)).as("cnt")), Seq("qid"), "left")
        .filter(coalesce(col("cnt"), lit(0L)) < k)
        .drop("cnt"))
      if (shortQ.isEmpty) done = true
      else {
        b *= 2; h += 2
        val retry = graphSearchCore(graph, corpus, shortQ, k, b, h,
          allowed = Some(allowed), informedSeeds = informedSeeds)
        // filled queries keep their answers; short ones are REPLACED
        // by the wider walk's (a superset pool re-ranked under the
        // same total order — never a mix of two walks' ranks)
        result = Lineage.cut(
          result.join(shortQ.select("qid"), Seq("qid"), "left_anti")
            .unionByName(retry))
        remaining = shortQ
      }
    }
    result.orderBy("qid", "rank")
  }

  /** Deterministic LCG draws in the DENSE-RANK space of `ids` — the
    * replayable seeding contract made id-space-shape-independent for
    * SEGMENT corpora: a segment's ids are sparse in [0, max), so the
    * registry's mod-(max+1) draw would miss the membership filter
    * almost surely (the measured LCG-on-sparse-ids failure: 19,994 of
    * 20,000 queries with ZERO entry points). Ranking the segment ids
    * 0..n-1 (row_number by vec_id) and drawing mod n makes every draw
    * HIT by construction — and stays exactly replayable in SQL (the
    * oracle ranks with the same window). The global window is bounded
    * by SEGMENT size — this helper exists precisely because segments
    * are small relative to the corpus; a corpus-sized caller should
    * keep the plain mod-(max+1) contract. Returns (srcCol, b),
    * distinct, self-pairs removed. */
  private[graft] def denseLcgSeeds(ids: DataFrame, src: DataFrame,
                                   srcCol: String, perSrc: Int): DataFrame = {
    val dense = ids.select(col("vec_id"))
      .withColumn("r", row_number().over(Window.orderBy("vec_id")) - 1)
    val n = dense.agg(count(lit(1)).as("m")) // one-row scalar attach
    src.select(col(srcCol)).crossJoin(n)
      .select(col(srcCol), explode(array((1 to perSrc).map(j =>
        pmod(col(srcCol) * 1664525L + lit(j * 40503L), col("m"))): _*)).as("r"))
      .join(dense, "r")
      .select(col(srcCol), col("vec_id").as("b"))
      .filter(col(srcCol) =!= col("b"))
      .distinct()
  }

  /** The (vec_id, embedding) rows of one LANG segment — embeddings
    * whose document carries the language tag (vec_id ≡ doc_id, the
    * registry join contract). */
  private[graft] def segmentMembers(s: SparkSession, dir: String,
                                    lang: String): DataFrame =
    Tables.embeddings(s, dir).join(
      Tables.documents(s, dir).filter(col("lang") === lang)
        .select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")

  /** PER-SEGMENT k-NN graph over an arbitrary member set — the
    * structural fix for ultra-selective filtered serving (the
    * filtered-ANN production trade the adaptive widener's scaladoc
    * points at): under a ~1% allow-list the FULL-graph walk's bounded
    * visited pool holds too few allowed ids (measured 47/50 queries
    * short at beam 20 / hops 3; 12/50 after two adaptive doublings),
    * because the walk spends its budget scoring disallowed bridges.
    * Building the graph ON the segment makes every scored candidate
    * allowed — the walk's whole budget works for the filter, cost is
    * bounded by SEGMENT size, and the result fills to min(k, n_seg)
    * whenever the segment graph is connected (spec: 0/50 short at the
    * same 1% allow-list). Fixed-T descent with [[denseLcgSeeds]] (the
    * replayable harness contract; sparse segment ids break the plain
    * LCG draw), persisted per (dir, segment key) with the
    * [[knnGraphTable]] lifecycle — [[knnGraphAppend]] /
    * [[knnGraphForget]] work on it unchanged (they are
    * table-parameterized), so segment growth and compliance deletion
    * carry over verbatim. */
  def knnGraphSegmentTableFor(s: SparkSession, dir: String, segKey: String,
                              members: DataFrame, k: Int = 10,
                              iters: Int = 3,
                              converged: Boolean = false): String = {
    require(segKey.matches("[a-z0-9_]{1,32}"),
      s"segment key must be a short lowercase slug, got '$segKey'")
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val form = if (converged) "conv" else s"t$iters"
    val table = s"graft_knn_graph_seg_${slug}_${dirTag}_${segKey}_k${k}_${form}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      // harness form: fixed-T descent with dense-rank LCG seeds (the
      // replayable contract; the rank window is bounded by segment
      // size). Production form (`converged`): run-to-convergence
      // hybrid descent ([[knnDescentConverged]] — hash + LSH
      // bucket-mate seeds, no global window anywhere), the right
      // build when a hot segment is a large corpus fraction.
      val content =
        if (converged) knnDescentConverged(s, members, k)
        else {
          val seeds = denseLcgSeeds(members.select("vec_id"),
            members.select(col("vec_id").as("a")), "a", k)
          knnDescentFixed(s, members, k, iters, seedsOverride = Some(seeds))
        }
      content.write.format("parquet").saveAsTable(table)
    } else {
      StagedRewrite.recover(s, table)
    }
    table
  }

  /** SEGMENT-GRAPH serving (`sim_graph_search_segment`) — the
    * declared-hot-filter serving path: "nearest lang = X documents"
    * answered by walking the PER-SEGMENT graph
    * ([[knnGraphSegmentTableFor]]) with entry points drawn by
    * [[denseLcgSeeds]] over the segment id space. Queries come from
    * the FULL corpus (a query does not need to be a segment member —
    * the walk reads only its embedding); every candidate the walk
    * scores is allowed by construction, so there is no post-filter
    * and no shortfall: the answer is the plain top-k of the final
    * beam, exactly [[simGraphSearch]]'s contract restricted to the
    * segment. Replayable end to end — the oracle ranks the segment,
    * unrolls the dense-seeded descent, and walks the same hops.
    *
    * `informedSeeds = true` is the AT-SCALE entry-point switch, the
    * same harness/production split as the full-corpus walk: dense-rank
    * LCG is the replayable contract, but its global row_number window
    * is bounded by SEGMENT size — fine for small declared segments, a
    * single-partition sort if a hot language is 30% of a 100 TB
    * corpus. Informed seeding (LSH bucket-mates hashed over the
    * segment + the hash-sample fallback of existing segment ids) has
    * no global window anywhere and is id-space-immune — the
    * production form for LARGE segments; no oracle (the registry
    * keeps the dense-LCG contract). */
  def simGraphSearchSegment(s: SparkSession, dir: String, lang: String = "en",
                            nQueries: Int = 5, k: Int = 10, beam: Int = AutoBeam,
                            hops: Int = 3, graphK: Int = 10,
                            graphIters: Int = 3,
                            informedSeeds: Boolean = false): DataFrame = {
    require(lang.matches("[a-z]{2}"),
      s"lang must be a two-letter code, got '$lang'")
    val memberRows = segmentMembers(s, dir, lang)
    val beamR = resolveSegmentBeam(beam, memberRows)
    val table = knnGraphSegmentTableFor(s, dir, lang, memberRows,
      graphK, graphIters)
    val graph = s.table(table)
      .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
    val members = memberRows
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = Tables.embeddings(s, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    if (informedSeeds) {
      // large-segment production form, fully table-fed: mates + the
      // fallback sample come from the per-segment seed artifact
      // ([[lshSeedTableSegment]]), so seed derivation reads no
      // member-sized input at serve time — the round-15 full-corpus
      // discipline applied to the segment path (inline ≡ table-fed
      // row identity spec'd, same planes / cap / fallback)
      val seedT = lshSeedTableSegment(s, dir, lang, memberRows)
      graphSearchCore(graph, members, queries, k, beamR, hops,
        informedSeeds = true,
        seedMates = Some(seedMatesFromTable(s, seedT, queries)),
        seedSample = Some(seedSampleRead(s.table(seedT), beamR)))
    } else {
      val seeds = denseLcgSeeds(members.select("vec_id"),
        queries.select("qid"), "qid", beamR)
      graphSearchCore(graph, members, queries, k, beamR, hops,
        seedsOverride = Some(seeds))
    }
  }

  /** Filtered serving with SEGMENT ROUTING — the production
    * dispatcher: a filter on a DECLARED hot segment (a value with a
    * built per-segment graph) routes to the segment walk (no
    * shortfall, cost ∝ segment); anything else falls back to the
    * full-graph filtered walk with the bounded adaptive widener. The
    * declared set is the operator's knob — exactly the "per-language
    * corpora hit this on day one" deployment, where the handful of
    * hot languages get segment graphs and the long tail stays on the
    * shared graph. */
  def graphSearchFilteredRouted(s: SparkSession, dir: String, lang: String,
                                declared: Set[String], nQueries: Int = 5,
                                k: Int = 10, beam: Int = AutoBeam, hops: Int = 3,
                                graphK: Int = 10, graphIters: Int = 3): DataFrame =
    if (declared.contains(lang))
      simGraphSearchSegment(s, dir, lang, nQueries, k, beam, hops,
        graphK, graphIters)
    else {
      // the full-graph fallback keeps its own fixed default — the
      // size-aware rule is a SEGMENT sizing law (beam ∝ members); the
      // full corpus walk's budget is the adaptive widener's job
      val beamF = if (beam == AutoBeam) 20 else beam
      val graph = s.table(knnGraphTable(s, dir, graphK, graphIters))
        .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
      val corpus = Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val queries = corpus.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val allowed = Tables.documents(s, dir)
        .filter(col("lang") === lang).select(col("doc_id").as("b"))
      graphSearchFilteredAdaptive(graph, corpus, queries, allowed, k,
        beamF, hops)
    }

  /** Size-aware beam for serving a SEGMENT graph of `n` members —
    * the round-18 dashboard finding: the fixed beam=20 default that
    * measures 0.98 recall on the 218-member sf0.01 en-segment decays
    * to 0.72–0.76 on the 808-member sf0.1 segment over the same
    * NN-Descent (k=10, 3-iter) graph family; the measured recovery
    * frontier (round 18, 200 query-neighbor pairs) is
    * beam 48 → 0.945, beam 64 → 0.98 at n=808, i.e. ~linear in n at
    * THIS graph density — so the rule is n/12 with the old default as
    * the floor (218 → 20 unchanged, 808 → 68). Linear beam growth is
    * not a 100 TB answer (visited set ≈ beam·hops·(graphK+1) would
    * approach brute force): the measured production escape is graph
    * DENSITY — the same sweep shows graphK=20 reaches 0.99 at beam 32
    * and 1.0 at beam 48 — plus informed entry points; this helper
    * exists so a serving tier watching a GROWN segment widens its
    * walk instead of silently under-recalling, and its scaladoc is
    * where the rebuild-the-graph threshold is documented. */
  def beamForSegment(n: Long, floor: Int = 20): Int =
    math.max(floor, math.ceil(n / 12.0).toInt)

  /** WALK-BUDGET drift alarm — the [[beamForSegment]] scaladoc's
    * rebuild-the-graph threshold surfaced as a flag (the
    * seed/graph-artifact health-row discipline applied to walk
    * budget): when the size-aware beam exceeds `factor`× the fixed
    * canary walk, linear beam growth is no longer the right answer —
    * the segment should be REBUILT DENSER (measured r18: graphK=20
    * reaches 0.99 recall at beam 32 on the n=808 segment where the
    * k=10 graph needs beam 64) and/or served with informed entry
    * points. Returns (scaledBeam, rebuildGraph). Pure arithmetic so a
    * serving tier evaluates it from a cached member count. */
  def walkBudgetAlarm(nMembers: Long, canaryBeam: Int = 20,
                      factor: Double = 2.0): (Int, Boolean) = {
    val scaled = beamForSegment(nMembers, canaryBeam)
    (scaled, scaled > factor * canaryBeam)
  }

  /** Sentinel beam value meaning "size the walk from the segment"
    * ([[beamForSegment]] over the member count) — the DEFAULT for the
    * segment serving paths since round 19, so a caller serving a
    * grown segment widens automatically instead of silently
    * inheriting the decayed fixed-20 walk (the round-18 0.98 → 0.76
    * recall regression). Pass an explicit beam to pin a canary walk
    * (the dashboard's fixed-beam drift row, the registry's replayable
    * oracle contract). */
  val AutoBeam: Int = -1

  /** Resolve [[AutoBeam]] against the member set (one count job —
    * a serving tier caches segment sizes; the registry's per-query
    * cost is one metadata-light aggregate). */
  private def resolveSegmentBeam(beam: Int, members: DataFrame): Int =
    if (beam == AutoBeam) beamForSegment(members.count()) else beam

  /** PER-SEGMENT serving-tier quality row — [[graphServeRecallRow]]'s
    * sibling for the declared-hot-filter path: walk the persisted
    * SEGMENT graph ([[knnGraphSegmentTableFor]], the table
    * [[knnGraphAppend]]/[[knnGraphForget]] mutate in production) with
    * the registry walk parameters and score against exact brute force
    * over the CURRENT segment members. One row per call:
    * (segment, n_segment, n_exact, n_ann, n_hit, recall) — the number
    * a rollout watches per hot segment, which the full-corpus row
    * cannot see (a stale or degraded segment graph serves every
    * `lang = X` query while the global dashboards stay green). Exact
    * side is O(queries × segment) — the per-segment analog of
    * [[graphServeRecallRow]]'s sampled-truth methodology; run on a
    * sample cadence at scale. */
  def segmentServeRecallRow(s: SparkSession, dir: String, lang: String = "en",
                            nQueries: Int = 5, k: Int = 10, beam: Int = AutoBeam,
                            hops: Int = 3, graphK: Int = 10,
                            graphIters: Int = 3): DataFrame = {
    val memberRows = segmentMembers(s, dir, lang)
    val beamR = resolveSegmentBeam(beam, memberRows)
    val table = knnGraphSegmentTableFor(s, dir, lang, memberRows,
      graphK, graphIters)
    val graph = s.table(table)
      .select(col("vec_id").as("ga"), col("nbr_id").as("gb"))
    val members = memberRows
      .select(col("vec_id"), asDouble(col("embedding")).as("v")).cacheTracked
    val queries = Tables.embeddings(s, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .cacheTracked
    val seeds = denseLcgSeeds(members.select("vec_id"),
      queries.select("qid"), "qid", beamR)
    val served = graphSearchCore(graph, members, queries, k, beamR, hops,
      seedsOverride = Some(seeds))
    val exact = queries.join(members.select(col("vec_id"), col("v")),
        col("qid") =!= col("vec_id"))
      .withColumn("c", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("c").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select("qid", "vec_id").cacheTracked
    val annIds = served.select("qid", "vec_id").cacheTracked
    val hit = annIds.join(exact, Seq("qid", "vec_id"), "left_semi")
    // one-row scalar attaches (the dedup_eval crossJoin shape)
    members.agg(count(lit(1)).as("n_segment"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(annIds.agg(count(lit(1)).as("n_ann")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(lit(lang).as("segment"), col("n_segment"),
        col("n_exact"), col("n_ann"), col("n_hit"),
        round(when(col("n_exact") === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_exact").cast("double")), 4)
          .as("recall"))
  }

  /** GRAPH-ARTIFACT health row — coverage staleness for any persisted
    * k-NN graph table (full-corpus or per-segment) against the member
    * set it is supposed to serve, the [[seedArtifactHealthRow]]
    * discipline applied to the graph itself: an ingest loop that
    * appends members without [[knnGraphAppend]]-ing the graph (or a
    * membership change that strands old vertices) degrades serving
    * SILENTLY — missing members can never be answered by the walk,
    * orphaned vertices serve answers OUTSIDE the declared segment (a
    * filter-correctness leak, not just a quality one). One row:
    * member/vertex counts, `n_missing` (members absent from the graph,
    * `stale` past 5%), `n_orphans` (vertices no longer members,
    * `filter_leak` when any), `mean_degree`. All bounded key joins on
    * vec_id — O(members + graph), nothing collected. */
  def graphArtifactHealthRow(s: SparkSession, table: String,
                             members: DataFrame): DataFrame = {
    StagedRewrite.recover(s, table)
    val g = s.table(table)
    val verts = g.select("vec_id").distinct().cacheTracked
    val mem = members.select("vec_id").cacheTracked
    val missing = mem.join(verts, Seq("vec_id"), "left_anti")
    val orphans = verts.join(mem, Seq("vec_id"), "left_anti")
    val deg = g.groupBy("vec_id").agg(count(lit(1)).as("d"))
      .agg(round(avg(col("d")), 2).as("mean_degree"))
    mem.agg(count(lit(1)).as("n_members")) // one-row scalar attaches
      .crossJoin(verts.agg(count(lit(1)).as("n_vertices")))
      .crossJoin(missing.agg(count(lit(1)).as("n_missing")))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
      .crossJoin(deg)
      .select(lit(table).as("table"), col("n_members"), col("n_vertices"),
        col("n_missing"), col("n_orphans"), col("mean_degree"),
        round(col("n_missing").cast("double") /
          greatest(col("n_members"), lit(1L)).cast("double"), 4).as("missing_frac"),
        (col("n_missing").cast("double") >
          greatest(col("n_members"), lit(1L)).cast("double") * 0.05).as("stale"),
        (col("n_orphans") > 0).as("filter_leak"))
  }

  /** PRODUCTION form of [[simKnnGraph]] — NN-Descent run TO
    * CONVERGENCE instead of a fixed round count. The registry's
    * `sim_knn_graph` (fixed T) is the REPLAYABLE CONTRACT HARNESS
    * (DuckDB unrolls exactly T rounds); but descent quality at fixed
    * T degrades as n grows — measured edge recall vs exact @ T=3:
    * 0.78 at n=500, 0.45 at n=2000, 0.00 at the 10×-replica's
    * n=20000 (each vector's true top-10 are its planted twins, which
    * random seeding + 3 rounds never reach). The paper's loop runs
    * until the graph stops improving; rounds grow ~log n. This form
    * iterates until a round changes fewer than δ·|edges₀| entries
    * (one bounded anti-join aggregate per round, nothing collected —
    * and since per-vertex top-k counts are monotone non-decreasing,
    * a zero-change round IS an exact fixpoint, so no separate
    * fingerprint probe is needed), throwing past `maxIters` instead
    * of returning a silently-unconverged graph. Deterministic like
    * the fixed form (the stop round is a pure function of the data),
    * just not fixed-T-replayable — which is exactly the
    * harness-vs-production split the sketch rollup family documents.
    *
    * Init is HYBRID: the hash seeds plus LSH BUCKET-MATES (4
    * zero-mean tables, ≤k pseudo-random mates per vertex per table).
    * Pure NN-Descent transitivity cannot reach an isolated
    * high-similarity clique that no seed chain touches — measured on
    * the 10×-replica (every vector's true top-10 are its planted twins):
    * converged recall 0.000 from hash seeds alone, because the twin
    * cliques sit cos≈0.3 away from everything else. Sign-LSH puts
    * near-identical vectors in the same bucket w.h.p., so bucket-mate
    * seeding hands the descent exactly the candidates transitivity
    * cannot discover — the standard KGraph-style hybrid. */
  def simKnnGraphConverged(s: SparkSession, dir: String, k: Int = 10,
                           maxIters: Int = 30, delta: Double = 0.001): DataFrame =
    knnDescentConverged(s, Tables.embeddings(s, dir), k, maxIters, delta)

  /** [[simKnnGraphConverged]]'s corpus-parameterized core — `corpus`
    * is any (vec_id, embedding) frame, so the same converged descent
    * builds the base graph of the incremental path
    * ([[knnGraphAppend]]'s base twin) and any filtered/augmented
    * variant the specs need. */
  private[graft] def knnDescentConverged(s: SparkSession, corpus: DataFrame, k: Int = 10,
                                         maxIters: Int = 30, delta: Double = 0.001): DataFrame = {
    val e = corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v")).cacheTracked
    val ids = e.select(col("vec_id"))
    val m = ids.agg((max(col("vec_id")) + 1).as("m"))
    val hashSeeds = ids.crossJoin(m)
      .select(col("vec_id").as("a"), explode(array((1 to k).map(j =>
        pmod(col("vec_id") * 1664525L + lit(j * 40503L), col("m"))): _*)).as("b"))
      .filter(col("a") =!= col("b"))
      .join(ids.select(col("vec_id").as("b")), Seq("b"), "left_semi")
    // LSH bucket-mate seeds: ≤k pseudo-random same-bucket partners
    // per (vertex, table) — the candidates transitivity can't reach
    val lshSeeds = lshTablePlanes(nTables = 4, numPlanes = 7)
      .map { p =>
        val bucketed = e.select(col("vec_id"), lshBucket(col("v"), p).as("bk"))
        bucketed.select(col("vec_id").as("a"), col("bk")).as("x")
          .join(bucketed.select(col("vec_id").as("b"), col("bk")).as("y"), "bk")
          .filter(col("a") =!= col("b"))
          .withColumn("rr", row_number().over(
            Window.partitionBy("a").orderBy(xxhash64(col("a"), col("b")))))
          .filter(col("rr") <= k)
          .select("a", "b")
      }
      .reduce(_ union _)
    // join-using on "b" reordered hashSeeds to (b, a); UNION IS
    // POSITIONAL, so normalize explicitly or the LSH pairs land
    // swapped (vertex in the mate column) — caught by the append
    // path's well-formedness spec, latent here because bucket-mate
    // pairs are near-symmetric as a set
    val seeds = hashSeeds.select("a", "b").union(lshSeeds.select("a", "b"))
    val va = e.select(col("vec_id").as("a"), col("v").as("va"))
    val vb = e.select(col("vec_id").as("b"), col("v").as("vb"))
    def topk(cand: DataFrame): DataFrame =
      cand.join(va, "a").join(vb, "b")
        .withColumn("c", cosine(col("va"), col("vb")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("a").orderBy(col("c").desc, col("b"))))
        .filter(col("rn") <= k)
    var edges = Lineage.cut(topk(seeds.select("a", "b").distinct())
      .select("a", "b"))
    // δ floor from the initial edge count — one bounded aggregate,
    // paid once, not per round
    val updateFloor = math.max(1L, (delta * edges.count()).toLong)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      iter += 1
      val rev = edges.select(col("b").as("a"), col("a").as("b"))
        .withColumn("rr", row_number().over(
          Window.partitionBy("a").orderBy("b")))
        .filter(col("rr") <= k).drop("rr")
      val und = Lineage.cut(edges.union(rev).distinct())
      val nn = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("y.b").as("b"))
        .filter(col("a") =!= col("b"))
      val prevEdges = edges
      edges = Lineage.cut(topk(und.union(nn).distinct()).select("a", "b"))
      // ONE bounded aggregate per round (the paper's δ termination):
      // stop once the round changed fewer than δ·|edges₀| entries —
      // the long tail past that moves single edges per round at
      // full-round cost for no measurable recall. The anti-join
      // changed-edge count SUBSUMES the old (count, hash-sum)
      // fingerprint probe: per-vertex top-k counts are monotone
      // non-decreasing (the candidate set always contains the
      // current edges), so zero new-not-in-prev edges ⟹ the edge
      // sets are EQUAL — exact-fixpoint detection falls out of the δ
      // check for free, one job per round instead of two.
      converged =
        edges.join(prevEdges, Seq("a", "b"), "left_anti").count() < updateFloor
    }
    if (!converged)
      throw new IllegalStateException(
        s"NN-Descent did not converge in $maxIters rounds — raise maxIters")
    topk(edges)
      .select(col("a").as("vec_id"), col("rn").cast("long").as("rank"),
        col("b").as("nbr_id"), round(col("c"), 4).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** [[knnGraphTable]]'s base-corpus twin for the incremental
    * harness ([[ivfIndexTableIncremental]]'s graph analog): built
    * (once per JVM) fixed-T from vec_id % 10 != 0 only; the held-out
    * rest arrives via [[knnGraphAppend]] in harness mode. A separate
    * physical table so the mutation never aliases the shared
    * consumer artifact. `appendIters` is part of the table slug even
    * though only the APPEND uses it: after the first
    * [[simKnnGraphIncremental]] run the append no-ops (empty
    * frontier), so without it a later call with a different
    * appendIters would silently return the graph accreted under the
    * first value — mismatching its appendIters-parameterized
    * oracle. */
  private[graft] def knnGraphTableIncremental(s: SparkSession, dir: String,
                                              k: Int = 10, iters: Int = 3,
                                              appendIters: Int = 3): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val table = s"graft_knn_graph_incr_${slug}_${dirTag}_k${k}_t${iters}_a${appendIters}_v1"
    // drop the pre-appendIters-slug generation of this table (and its
    // suppression twin) so a long-lived warehouse doesn't accrete an
    // orphaned artifact nothing will ever read again — but MIGRATE the
    // legacy suppression list first: those rows are compliance
    // tombstones (a user's deletion replayed against at-least-once
    // redelivery), and dropping them with the slug would silently
    // re-admit the suppressed ids when the new artifact rebuilds
    val legacy = s"graft_knn_graph_incr_${slug}_${dirTag}_k${k}_t${iters}_v1"
    val legacySup = s"${legacy}_sup"
    if (s.catalog.tableExists(legacySup)) {
      StagedRewrite.recover(s, legacySup)
      val rows = s.table(legacySup).distinct()
      if (!rows.isEmpty) {
        val supT = suppressionTable(s, table)
        rows.join(s.table(supT), Seq("vec_id"), "left_anti")
          .write.mode("append").insertInto(supT)
      }
    }
    Seq(legacy, legacySup).foreach { t =>
      if (s.catalog.tableExists(t)) s.sql(s"DROP TABLE $t")
    }
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      // ONE base descent artifact: the initial content is a copy of
      // the read-only [[knnGraphTableBase]] (same ids, same fixed-T
      // descent — byte-identical by determinism), so the held-out
      // serving table and the incremental harness's base build share
      // one descent run instead of silently maintaining two that a
      // future parameter drift could split. The copy is anti-joined
      // against the suppression list on BOTH endpoints: tombstones
      // block future appends, but a rebuild's initial content is
      // base-graph rows — without the filter a suppressed
      // (compliance-forgotten) base-corpus id's vertex and neighbor
      // rows would silently re-enter the rebuilt artifact. Empty
      // suppression list (the registry path) ⟹ the anti-joins are
      // no-ops and the content stays byte-identical to the base.
      val base = s.table(knnGraphTableBase(s, dir, k, iters))
      val sup = s.table(suppressionTable(s, table))
      base
        .join(broadcast(sup), Seq("vec_id"), "left_anti")
        .join(broadcast(sup.select(col("vec_id").as("nbr_id"))),
          Seq("nbr_id"), "left_anti")
        .select(base.columns.map(col): _*)
        .write.format("parquet").saveAsTable(table)
    } else {
      StagedRewrite.recover(s, table)
    }
    table
  }

  /** The graph build+grow loop as one query
    * (`sim_knn_graph_incremental`) — the [[simIvfAnnIncremental]]
    * pattern for the graph artifact: the base graph is built fixed-T
    * from the base corpus (vec_id % 10 != 0), the held-out delta is
    * integrated through [[knnGraphAppend]] in its fixed-T hash-seed
    * HARNESS mode, and the query returns the accreted graph. Unlike
    * the IVF side, append is NOT rebuild-identical (descent is
    * approximate and history-dependent; the spec pins the
    * append-vs-rebuild recall gap) — the hash-verified contract here
    * is the REPLAYABLE fixed-T trace itself: every step is a pure
    * function of the data, so the DuckDB oracle unrolls base descent
    * + append descent + back-edge merge and the final graph
    * hash-matches. Idempotent across invocations: once the delta is
    * integrated, re-append derives an empty new-id set and no-ops. */
  def simKnnGraphIncremental(s: SparkSession, dir: String, k: Int = 10,
                             iters: Int = 3, appendIters: Int = 3): DataFrame = {
    val table = knnGraphTableIncremental(s, dir, k, iters, appendIters)
    knnGraphAppend(s, table, Tables.embeddings(s, dir), k,
      useLshSeeds = false, fixedIters = Some(appendIters))
    s.table(table).orderBy("vec_id", "rank")
  }

  /** COMPLIANCE deletion from the persisted k-NN graph — the forget
    * path that completes the graph artifact's lifecycle (the
    * [[ivfIndexForget]] analog): every row where the deleted vector
    * appears on EITHER side is removed — as a vertex (its neighbor
    * list) and as a neighbor (other vertices' lists) — so a deleted
    * user's vector influences no downstream consumer immediately.
    * Surviving vertices keep their remaining ≤k neighbors with
    * ORIGINAL ranks (rank gaps mark where deletions happened — an
    * auditable trace, and consumers rank-agnostically read edge
    * sets); top-up repair is deliberately DEFERRED to the next
    * rebuild, because back-filling would re-run descent against the
    * full corpus for what is usually a tiny deletion batch. O(graph)
    * one-pass rewrite through a durable [[StagedRewrite]] — the
    * protocol DOUBLE-WRITES the graph (stage + re-append), which on
    * the O(n·k) artifact is the stated durability price of a
    * crash-proof forget (contrast the O(tombstones) compliance
    * tables where it is noise). Single-writer per table, like every
    * mutation path.
    *
    * `suppress = true` is the at-least-once-upstream compliance mode
    * ([[ivfIndexForget]]'s contract, same `<table>_sup` list): the
    * ids are recorded FIRST — no append window between removal and
    * recording can re-accept a redelivery — and every later
    * [[knnGraphAppend]] anti-joins them until an explicit
    * [[knnGraphReinstate]]. Default stays physical-only ("append
    * equals rebuild"), matching the IVF side. */
  def knnGraphForget(s: SparkSession, table: String, ids: DataFrame,
                     suppress: Boolean = false): Unit = {
    StagedRewrite.recover(s, table)
    if (suppress) {
      val supT = suppressionTable(s, table)
      ids.select(col("vec_id")).distinct()
        .join(s.table(supT), Seq("vec_id"), "left_anti")
        .write.mode("append").insertInto(supT)
    }
    val del = ids.select(col("vec_id").as("d")).distinct()
    val g = s.table(table)
    // two broadcast hash anti-joins (codegen'd membership tests), not
    // one OR-condition nested loop
    val keep = g
      .join(broadcast(del.select(col("d").as("vec_id"))), Seq("vec_id"), "left_anti")
      .join(broadcast(del.select(col("d").as("nbr_id"))), Seq("nbr_id"), "left_anti")
      .select(g.columns.map(col): _*)
    // ONE pre-check scan for "does any row touch a deleted id on
    // EITHER side": explode both endpoints and broadcast-hash
    // semi-join — same codegen'd membership test, half the graph
    // scans of the previous two-probe form
    val touched = g.select(explode(array(col("vec_id"), col("nbr_id"))).as("d"))
      .join(broadcast(del), Seq("d"), "left_semi")
    if (!touched.isEmpty)
      StagedRewrite.rewrite(s, table, keep)
  }

  /** INCREMENTAL growth of the persisted k-NN graph — the
    * [[ivfIndexAppend]] lifecycle parity that closes the one
    * artifact that previously forced a full O(n·(2k)²) rebuild per
    * corpus change. `corpus` is the graph's corpus GROWN: every live
    * vertex's (vec_id, embedding) plus the new vectors; new ids are
    * derived as corpus ∖ graph-vertices, so the call is idempotent
    * (an already-integrated batch is a no-op) and "bring the graph
    * up to date with the corpus" is the whole contract.
    *
    * Algorithm — NN-Descent restricted to the NEW frontier:
    *
    *   seed    each new vertex from the affine hash (over the full
    *           grown id space) plus LSH BUCKET-MATES computed over
    *           the full corpus (old and new mates alike — sign-LSH
    *           hands a new vector its near-identical OLD twins
    *           directly, the [[simKnnGraphConverged]] lesson)
    *   iterate candidates for new vertices only: current list ∪
    *           reversed new-edges ∪ neighbors-of-neighbors THROUGH
    *           THE UNION GRAPH (a new vertex's old neighbor expands
    *           via its frozen published list — descent climbs the
    *           existing graph toward the true neighborhood, the
    *           standard incremental-KGraph shape); δ-terminated like
    *           the converged build, throwing past `maxIters`
    *   merge   BACK-EDGES: every (old ← new) pointer in the settled
    *           new lists becomes a candidate for the old vertex
    *           (cosine is symmetric — reverse-neighbor coverage);
    *           touched old vertices re-top-k their existing list ∪
    *           those candidates and are RE-RANKED 1..k; untouched
    *           old rows are byte-identical
    *
    * Per-round work is bounded by the NEW frontier — |new|·k lists,
    * ≤ k reverse + k·2k expansion candidates each — never by n, so a
    * daily ingest costs O(|batch|) descent instead of O(corpus). The
    * deliberate quality boundary: OLD-OLD pairs are never revisited
    * (a new vector bridging two old cliques does not update the old
    * lists' mutual ranking — their cosine is unchanged and their
    * lists were settled at build time), so append chases the
    * built-with-everything graph, not exact truth; the spec measures
    * append-vs-rebuild edge recall and pins the gap. Periodic full
    * rebuild remains the full-quality path, exactly as documented
    * for the IVF family's codebook refit.
    *
    * The swap is one crash-safe [[StagedRewrite]] — the O(graph)
    * double-write durability price [[knnGraphForget]] already
    * documents. Single-writer per table, like every mutation path. */
  def knnGraphAppend(s: SparkSession, table: String, corpus: DataFrame,
                     k: Int = 10, maxIters: Int = 30, delta: Double = 0.001,
                     useLshSeeds: Boolean = true,
                     fixedIters: Option[Int] = None): Unit = {
    StagedRewrite.recover(s, table)
    // compliance admission ([[ivfIndexAppend]]'s contract): ids a
    // suppressing forget recorded stay out — as frontier vertices AND
    // as neighbor candidates — until reinstated
    val supT = s"${table}_sup"
    StagedRewrite.recover(s, supT)
    val e0 = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val e = (if (s.catalog.tableExists(supT))
        e0.join(broadcast(s.table(supT).distinct()), Seq("vec_id"), "left_anti")
      else e0).cacheTracked
    val g = s.table(table)
    val oldE = g.select(col("vec_id").as("a"), col("nbr_id").as("b"))
    // lineage-cut: the tiny new-id list is semi/anti-joined in every
    // round and in the final merge — one eager materialization keeps
    // each round's plan flat instead of re-deriving the anti-join
    val newIds = Lineage.cut(e.select("vec_id")
      .join(g.select("vec_id").distinct(), Seq("vec_id"), "left_anti"))
    if (newIds.isEmpty) return
    val ids = e.select(col("vec_id"))
    val m = ids.agg((max(col("vec_id")) + 1).as("m")) // one-row scalar attach
    val hashSeeds = newIds.crossJoin(m)
      .select(col("vec_id").as("a"), explode(array((1 to k).map(j =>
        pmod(col("vec_id") * 1664525L + lit(j * 40503L), col("m"))): _*)).as("b"))
      .filter(col("a") =!= col("b"))
      .join(ids.select(col("vec_id").as("b")), Seq("b"), "left_semi")
    // harness mode (`sim_knn_graph_incremental`) drops the LSH mates:
    // hash-only seeding keeps the DuckDB replay to the descent CTEs
    // the fixed-T contract already unrolls — production keeps them
    // NOTE join-using on "b" reorders hashSeeds to (b, a) and UNION
    // IS POSITIONAL — normalize both sides explicitly
    val seeds =
      if (!useLshSeeds) hashSeeds.select("a", "b")
      else hashSeeds.select("a", "b").union(
        lshTablePlanes(nTables = 4, numPlanes = 7).map { p =>
          val bucketed = e.select(col("vec_id"), lshBucket(col("v"), p).as("bk"))
          bucketed.select(col("vec_id").as("a"), col("bk"))
            .join(newIds.select(col("vec_id").as("a")), Seq("a"), "left_semi")
            .join(bucketed.select(col("vec_id").as("b"), col("bk")), "bk")
            .filter(col("a") =!= col("b"))
            .withColumn("rr", row_number().over(
              Window.partitionBy("a").orderBy(xxhash64(col("a"), col("b")))))
            .filter(col("rr") <= k)
            .select("a", "b")
        }.reduce(_ union _).select("a", "b"))
    val va = e.select(col("vec_id").as("a"), col("v").as("va"))
    val vb = e.select(col("vec_id").as("b"), col("v").as("vb"))
    def topk(cand: DataFrame): DataFrame =
      cand.join(va, "a").join(vb, "b")
        .withColumn("c", cosine(col("va"), col("vb")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("a").orderBy(col("c").desc, col("b"))))
        .filter(col("rn") <= k)
    var newE = Lineage.cut(topk(seeds.distinct()).select("a", "b"))
    // δ floor unused in fixed-T harness mode (no per-round probe jobs
    // — the round count is the contract, like sim_knn_graph)
    val updateFloor =
      if (fixedIters.isDefined) 0L
      else math.max(1L, (delta * newE.count()).toLong)
    val roundCap = fixedIters.getOrElse(maxIters)
    var iter = 0
    var converged = false
    while (iter < roundCap && !converged) {
      iter += 1
      // who points at a NEW vertex: only new lists can (old lists are
      // frozen and predate the new ids) — reverse, cap k
      val rev = newE.select(col("b").as("a"), col("a").as("b"))
        .join(newIds.select(col("vec_id").as("a")), Seq("a"), "left_semi")
        .withColumn("rr", row_number().over(
          Window.partitionBy("a").orderBy("b")))
        .filter(col("rr") <= k).drop("rr")
      // expansion through the UNION graph: new a → x (old or new) →
      // x's published neighbors (frozen old list / current new list)
      val allE = Lineage.cut(newE.union(oldE).distinct())
      val nn = newE.as("x").join(allE.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("y.b").as("b"))
        .filter(col("a") =!= col("b"))
      val prevE = newE
      newE = Lineage.cut(
        topk(newE.union(rev).union(nn).distinct()).select("a", "b"))
      if (fixedIters.isEmpty)
        converged =
          newE.join(prevE, Seq("a", "b"), "left_anti").count() < updateFloor
    }
    if (fixedIters.isEmpty && !converged)
      throw new IllegalStateException(
        s"incremental NN-Descent did not converge in $maxIters rounds — raise maxIters")
    // back-edges: settled new lists reversed onto their OLD targets
    val backCand = newE.select(col("b").as("a"), col("a").as("b"))
      .join(newIds.select(col("vec_id").as("a")), Seq("a"), "left_anti")
    val touchedOld = backCand.select("a").distinct()
    val mergedOld = topk(
      oldE.join(touchedOld, Seq("a"), "left_semi").union(backCand).distinct())
    def shape(df: DataFrame): DataFrame =
      df.select(col("a").as("vec_id"), col("rn").cast("long").as("rank"),
        col("b").as("nbr_id"), round(col("c"), 4).as("cosine"))
    val untouched = g.join(touchedOld.select(col("a").as("vec_id")),
      Seq("vec_id"), "left_anti").select(g.columns.map(col): _*)
    StagedRewrite.rewrite(s, table,
      untouched.unionByName(shape(mergedOld)).unionByName(shape(topk(newE))))
  }

  /** Graph twin of [[ivfIndexReinstate]] (user re-consents): remove
    * the ids from the graph artifact's suppression list so the next
    * [[knnGraphAppend]] admits their vectors again — as frontier
    * vertices and as neighbor candidates. Same crash-safe
    * [[StagedRewrite]] protocol, same no-op-when-absent contract. */
  def knnGraphReinstate(s: SparkSession, table: String, ids: DataFrame): Unit =
    reinstateSuppressed(s, table, ids)

  /** Semantic clusters FROM the k-NN graph (`sim_knn_components`) —
    * the first consumer of [[simKnnGraph]]'s artifact, and the
    * graph-based route to semantic near-dup clustering: threshold
    * the graph's edges at cosine ≥ τ (on the ROUNDED 4-decimal score
    * both engines agree on), undirect, and label connected
    * components through [[Dedup.connectedComponents]] (driver-local
    * min-rooted union-find under the edge cap, alternating
    * large/small-star contraction above it — the dedup_clusters
    * machinery verbatim). Every vector gets a row:
    * (vec_id, cluster_id = component min, is_rep).
    *
    * Why this shape at 100 TB: the knn graph is built ONCE (bounded
    * n·(2k)² candidate work), and every downstream consumer —
    * clustering at several τ, diversity sampling, label
    * propagation — re-reads the O(n·k) edge artifact instead of
    * re-scanning the vector corpus; the τ sweep that tunes a
    * semantic-dedup threshold costs one filter + components pass per
    * value, not one ANN run per value. */
  def simKnnComponents(s: SparkSession, dir: String, k: Int = 10, iters: Int = 3,
                       tau: Double = 0.4): DataFrame = {
    // reads the PERSISTED graph artifact — the "built once, consumers
    // re-read" claim is the plan, not just the scaladoc: a τ sweep
    // pays the descent exactly once
    val pairs = s.table(knnGraphTable(s, dir, k, iters))
      .filter(col("cosine") >= tau)
      .select(least(col("vec_id"), col("nbr_id")).as("id_a"),
        greatest(col("vec_id"), col("nbr_id")).as("id_b"))
      .distinct()
    val labels = Dedup.connectedComponents(pairs)
    Tables.embeddings(s, dir).select(col("vec_id"))
      .join(labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .withColumn("is_rep", col("vec_id") === col("cluster_id"))
      .orderBy("vec_id")
  }

  /** Community labels over the k-NN graph by synchronous LABEL
    * PROPAGATION (`sim_knn_label_prop`; Raghavan, Albert & Kumara
    * 2007, deterministic variant) — the third consumer of the
    * persisted graph artifact (after components and the τ-sweep):
    * every vertex starts as its own label; each round it adopts the
    * label most frequent among its (undirected) neighbors, ties to
    * the SMALLEST label, isolated vertices keep their own; all
    * updates read the PREVIOUS round (synchronous), so the run is a
    * pure function of the graph and replays in SQL round by round.
    * Votes are integer counts — no floating-point comparison anywhere
    * past the persisted edge list, so the oracle contract is
    * tie-proof by construction.
    *
    * Scale shape per round: one (b)-keyed join to attach neighbor
    * labels, one (a, lbl) partial-aggregated count, one per-vertex
    * top-1 window (map-side WindowGroupLimit), one left join back —
    * all fixed-width rows bounded by the O(n·k) edge table; lineage
    * cut per round ([[Lineage.cut]], the [[simKnnGraph]] lesson).
    * The training-data uses: cheap community structure for corpus
    * curation (topic-ish sampling weights, per-community quotas)
    * without a clustering model. */
  def simKnnLabelProp(s: SparkSession, dir: String, k: Int = 10, iters: Int = 3,
                      rounds: Int = 4): DataFrame = {
    val g = s.table(knnGraphTable(s, dir, k, iters))
    val und = g.select(col("vec_id").as("a"), col("nbr_id").as("b"))
      .union(g.select(col("nbr_id").as("a"), col("vec_id").as("b")))
      .distinct().transform(Lineage.cut(_))
    var labels = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("vec_id").as("lbl"))
    for (_ <- 1 to rounds) {
      val top = und
        .join(labels.select(col("id").as("b"), col("lbl")), "b")
        .groupBy("a", "lbl").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("a").orderBy(col("cnt").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("a").as("id"), col("lbl").as("new_lbl"))
      labels = Lineage.cut(labels.join(top, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl")))
    }
    labels.select(col("id").as("vec_id"), col("lbl").as("label"))
      .orderBy("vec_id")
  }

  /** DIVERSITY SAMPLE over the thresholded k-NN graph
    * (`sim_knn_diversity`) — a MAXIMAL INDEPENDENT SET via Luby-style
    * parallel rounds with deterministic hash priorities (Luby 1986,
    * static-priority variant): selected documents are mutually
    * dissimilar (no selected pair has cosine ≥ τ — independence) and
    * the sample is maximal (every unselected document is ≥τ-similar
    * to a selected one — coverage). The dedup-aware sampling step a
    * curation pipeline runs to pick diverse exemplars.
    *
    * Per round, on the subgraph induced by UNDECIDED vertices: a
    * vertex joins the MIS iff no undecided neighbor has a strictly
    * smaller (priority, id) — priorities are an affine hash
    * (id·2654435761 mod 1000003), comparisons pure integers, so
    * rounds are a pure function of the edge list and the DuckDB
    * oracle replays them tie-proof. MIS members' undecided
    * neighbors become excluded; fixed `rounds` suffice because
    * components of the τ-thresholded graph are tiny (the spec
    * asserts zero undecided at test scale; at production scale
    * rounds is the O(log n) Luby bound for hashed priorities).
    * All state is fixed-width (id, st) rows; lineage cut per round
    * ([[Lineage.cut]], the [[simKnnGraph]] lesson). Consumes the PERSISTED
    * [[knnGraphTable]] artifact like every other graph consumer. */
  def simKnnDiversity(s: SparkSession, dir: String, k: Int = 10, iters: Int = 3,
                      tau: Double = 0.4, rounds: Int = 8): DataFrame = {
    def pr(c: Column): Column = pmod(c * lit(2654435761L), lit(1000003L))
    val g = s.table(knnGraphTable(s, dir, k, iters)).filter(col("cosine") >= tau)
    val und = g.select(col("vec_id").as("a"), col("nbr_id").as("b"))
      .union(g.select(col("nbr_id").as("a"), col("vec_id").as("b")))
      .distinct().transform(Lineage.cut(_))
    var st = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id")).withColumn("st", lit(0))
    var round = 0
    var done = false
    while (round < rounds && !done) {
      round += 1
      val undec = Lineage.cut(st.filter(col("st") === 0).select("id"))
      // EARLY EXIT, output-identical: a round with no undecided
      // vertices selects and excludes nobody, so the remaining
      // rounds are no-ops — the fixed-round oracle replay still
      // matches while the engine skips the empty jobs (bounded
      // scalar check; components die off geometrically, so this
      // usually fires after 2-3 of the 8 budgeted rounds)
      done = undec.isEmpty
      if (!done) {
      val ue = und
        .join(undec.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(undec.select(col("id").as("b")), Seq("b"), "left_semi")
      val losers = ue.filter(pr(col("b")) < pr(col("a")) ||
          (pr(col("b")) === pr(col("a")) && col("b") < col("a")))
        .select(col("a").as("id")).distinct()
      val mis = undec.join(losers, Seq("id"), "left_anti")
      val exc = ue.join(mis.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a").as("id")).distinct()
      st = st
        .join(mis.withColumn("m", lit(1)), Seq("id"), "left")
        .join(exc.withColumn("e", lit(1)), Seq("id"), "left")
        .select(col("id"),
          when(col("m") === 1, 1).when(col("e") === 1, 2).otherwise(col("st")).as("st"))
        .transform(Lineage.cut(_))
      }
    }
    // MAXIMALITY guard (the [[simKnnGraphConverged]] throw-on-
    // non-convergence contract): a vertex still undecided when the
    // round budget runs out would be emitted selected=false with NO
    // selected ≥τ-neighbor — silently breaking the documented
    // coverage invariant. Fail loudly instead; `rounds` is the
    // O(log n) Luby bound, so hitting this means raise it.
    if (!done && !st.filter(col("st") === 0).isEmpty)
      throw new IllegalStateException(
        s"Luby MIS left undecided vertices after $rounds rounds — " +
          "raise `rounds` (O(log n) suffices for hashed priorities)")
    st.select(col("id").as("vec_id"), (col("st") === 1).as("selected"))
      .orderBy("vec_id")
  }

  /** Builds (once per dir × codebook) the PERSISTED IVF-SQ8 index:
    * [[ivfIndexTable]]'s cell-partitioned layout, but each vector
    * stored as its int8 scalar-quantization CODES (the
    * [[embQuantize]] scheme: code_i = round(x_i / scale),
    * scale = max|x|/127) instead of float64s — 1 byte per dimension
    * in the serving scan, 8× less index I/O per probed cell. The
    * per-vector scale is NOT stored: it cancels in cosine, which is
    * the only score the serving path computes. The memory-bounded
    * vector-database shape (FAISS "IVFx,SQ8"): at 100 TB the hot
    * index is code bytes only; full-precision vectors are touched
    * just for the re-rank candidates via an id-keyed map-only
    * fetch. */
  def ivfSq8IndexTable(s: SparkSession, dir: String,
                       codebook: Array[Array[Double]] = IvfCodebook.centroids): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val cbTag = (scala.util.hashing.MurmurHash3.arrayHash(
      codebook.map(java.util.Arrays.hashCode)) & 0x7fffffff).toHexString
    val table = s"graft_ivf_sq8_index_${slug}_${dirTag}_k${codebook.length}_c${cbTag}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("scale",
          expr("greatest(array_max(transform(v, x -> abs(x))) / 127, 1e-12d)"))
        .withColumn("codes",
          expr("transform(v, x -> cast(round(x / scale) as tinyint))"))
        .withColumn("bucket", ivfCell(col("v"), codebook))
        .select("vec_id", "codes", "bucket")
        .write.partitionBy("bucket").format("parquet").saveAsTable(table)
    }
    table
  }

  /** [[simIvfAnn]] served from the SQ8 index — probe the nprobe
    * nearest cells, score candidates ASYMMETRICALLY (full-precision
    * query × int8 codes, the codegen'd [[graft.functions.CosineInt8]]
    * kernel), keep the top `rerank`·k per query by approximate score,
    * then re-rank exactly against the full-precision vectors fetched
    * by id (corpus-side map-only scan, candidates broadcast). With
    * SQ8's ≲0.5% relative cosine error and a 4× over-fetch margin the
    * exact re-rank recovers [[simIvfAnn]]'s output bit-for-bit, so
    * this SHARES that operator's DuckDB oracle; the pre-rerank
    * candidate quality is additionally measured in the spec
    * (approx-top-k recall), so the margin is a number, not a hope. */
  def simIvfSq8(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
                nprobe: Int = 4, rerank: Int = 4,
                codebook: Array[Array[Double]] = IvfCodebook.centroids): DataFrame = {
    val idx = s.table(ivfSq8IndexTable(s, dir, codebook))
    val cells = ivfCellStructs(col("v"), codebook)
    val probes = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), explode(cells).as("p"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("p.ccos").desc, col("p.negidx").desc)))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), (-col("p.negidx")).cast("int").as("bucket"))
    val cands = idx.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("acos",
        graft.functions.VectorFunctions.cosine_int8(col("qv"), col("codes")))
      .withColumn("arn", row_number().over(
        Window.partitionBy("qid").orderBy(col("acos").desc, col("vec_id"))))
      .filter(col("arn") <= k * rerank)
      .select(col("qid"), col("qv"), col("vec_id"))
    // exact re-rank: corpus scanned map-only, candidate set broadcast
    val exact = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("ev"))
    exact.join(broadcast(cands), Seq("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("ev")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cosine"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** Builds (once per dir × codebooks) the PERSISTED IVF-PQ index:
    * [[ivfIndexTable]]'s cell-partitioned layout with each vector
    * stored as its m-byte PRODUCT-QUANTIZATION code (the
    * [[PqCodebook]] scheme: 8 subspaces × 16 centroids → 8 bytes per
    * 64-dim vector, a 64× cut over float64 and 8× over SQ8). The
    * FAISS "IVFx,PQ8" shape: at 100 TB the hot index is m code bytes
    * per vector — small enough to pin in memory at billions of rows —
    * and full-precision vectors are touched only for the re-rank
    * candidates. Name embeds content hashes of BOTH quantizers (IVF
    * centroids and PQ codebooks), so a re-fit of either never
    * aliases a stale index. */
  def ivfPqIndexTable(s: SparkSession, dir: String,
                      codebook: Array[Array[Double]] = IvfCodebook.centroids,
                      pq: Array[Array[Array[Double]]] = PqCodebook.codebooks): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val cbTag = (scala.util.hashing.MurmurHash3.arrayHash(
      codebook.map(java.util.Arrays.hashCode)) & 0x7fffffff).toHexString
    val pqTag = (scala.util.hashing.MurmurHash3.arrayHash(
      pq.map(b => java.util.Arrays.hashCode(b.map(java.util.Arrays.hashCode): Array[Int]))) & 0x7fffffff).toHexString
    val table = s"graft_ivf_pq_index_${slug}_${dirTag}_k${codebook.length}_c${cbTag}_p${pqTag}_v1"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("codes", graft.functions.VectorFunctions.pq_encode(col("v"), pq))
        .withColumn("bucket", ivfCell(col("v"), codebook))
        .select("vec_id", "codes", "bucket")
        .write.partitionBy("bucket").format("parquet").saveAsTable(table)
    }
    table
  }

  /** [[simIvfAnn]] served from the PQ index: probe the nprobe nearest
    * cells, score candidates by ASYMMETRIC-DISTANCE cosine against
    * the 8-byte codes (the codegen'd [[graft.functions.CosinePq]]
    * kernel — dot against subspace centroids, norms precomputed),
    * keep `rerank`·k per query, then re-rank exactly against the
    * full-precision vectors fetched by id. PQ's coarser
    * reconstruction (256 centroids per 8-dim subspace, codebook
    * trained on the sf0.01 sample) needs a far wider over-fetch than
    * SQ8's 4×: on fully UNSEEN vectors (sf0.1, none in the training
    * sample) the equality threshold measured in round 9 is
    * rerank = 24; the default 32 carries margin
    * for corpus regeneration. After the exact re-rank the output
    * recovers [[simIvfAnn]]'s bit-for-bit, so this SHARES its DuckDB
    * oracle; pre-rerank recall is additionally asserted in
    * DedupSimilaritySpec. */
  def simIvfPq(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
               nprobe: Int = 4, rerank: Int = 32,
               codebook: Array[Array[Double]] = IvfCodebook.centroids,
               pq: Array[Array[Array[Double]]] = PqCodebook.codebooks): DataFrame = {
    val idx = s.table(ivfPqIndexTable(s, dir, codebook, pq))
    val cells = ivfCellStructs(col("v"), codebook)
    val probes = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), explode(cells).as("p"))
      .withColumn("pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("p.ccos").desc, col("p.negidx").desc)))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), (-col("p.negidx")).cast("int").as("bucket"))
    val cands = idx.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("acos",
        graft.functions.VectorFunctions.cosine_pq(col("qv"), col("codes"), pq))
      .withColumn("arn", row_number().over(
        Window.partitionBy("qid").orderBy(col("acos").desc, col("vec_id"))))
      .filter(col("arn") <= k * rerank)
      .select(col("qid"), col("qv"), col("vec_id"))
    val exact = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("ev"))
    exact.join(broadcast(cands), Seq("vec_id"))
      .withColumn("cos", cosine(col("qv"), col("ev")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cosine"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** EXACT cosine RANGE search (radius query): for each query vector,
    * every corpus vector with cosine ≥ tau — the other half of the
    * vector-serving API surface (top-k answers "closest k", range
    * answers "all within the dup/relevance radius"; dedup and
    * retrieval-augmented filtering want the latter). The 100 TB
    * shape is [[simBruteforceTopK]]'s: the bounded query set is
    * broadcast, the corpus is scanned MAP-ONLY (never shuffled), and
    * only the rows inside the radius are emitted — the operator is
    * output-bound by construction, with no per-query heap state at
    * all. An IVF-pruned variant would trade exactness for a probed
    * subset; range semantics here stay exact so the SQL oracle is a
    * direct all-pairs twin. */
  def simRangeSearch(s: SparkSession, dir: String, nQueries: Int = 5,
                     tau: Double = 0.25): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos", round(cosine(col("qv"), col("v")), 4))
      // threshold on the ROUNDED cosine (the dedup_embedding
      // convention): float sum-order wobble at the radius boundary
      // cannot flip membership between engines
      .filter(col("cos") >= tau)
      .select(col("qid"), col("vec_id"), col("cos").as("cosine"))
      .orderBy("qid", "vec_id")
  }

  /** The frozen Johnson–Lindenstrauss projection matrix for
    * [[embProject]]: kProj × dim entries from the same deterministic
    * splitmix stream as the LSH planes (uniform in [-1, 1)),
    * PRE-SCALED by √(3/kProj) — Var(U[-1,1)) = 1/3, so the scaling
    * makes E‖Mx‖² = ‖x‖² (the Achlioptas-style dense-uniform JL
    * variant). Exposed so the oracle SQL inlines the exact scaled
    * weights. */
  def jlProjection(kProj: Int = 16, dim: Int = 64): Array[Array[Double]] = {
    val scale = math.sqrt(3.0 / kProj)
    centeredStream(kProj * dim, seed = 7L).map(_ * scale)
      .grouped(dim).toArray
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * 64-dim embeddings → `kProj` = 16 dims through the frozen
    * [[jlProjection]] matrix — the cheap-prefilter / compact-index
    * transform upstream of clustering and ANN (project once, shortlist
    * in 4× fewer flops/bytes, verify in full dimension; the same
    * build-on-a-sample-ship-constants pattern as the IVF/PQ
    * codebooks). One map-only scan: the fused [[graft.functions.MatVec]]
    * kernel emits all 16 components per row in a single codegen'd
    * loop — no shuffle at any corpus size. Output exploded to scalar
    * (vec_id, j, y) rows; the oracle replays the mat-vec from the
    * inlined matrix in the same subscript order. Distance-preservation
    * quality (the JL guarantee) is MEASURED in DedupSimilaritySpec,
    * not assumed. */
  def embProject(s: SparkSession, dir: String, kProj: Int = 16): DataFrame = {
    val m = jlProjection(kProj)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("y", graft.functions.VectorFunctions.mat_vec(col("v"), m))
      .select(col("vec_id"), posexplode(col("y")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
        round(col("col"), 4).as("y"))
      .orderBy("vec_id", "j")
  }

  /** Per-vector symmetric int8 quantization (the embedding-storage
    * reduction step): scale = max|x|/127, q = round(x/scale), reported
    * as the scale plus max/mean reconstruction error. Pure map-only
    * higher-order expressions over the 64-dim arrays — no shuffle, no
    * UDF; at 100 TB this is a single scan. */
  def embQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127"))
      .withColumn("errs", expr("transform(v, x -> abs(x - round(x / scale) * scale))"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        round(expr("array_max(errs)"), 6).as("max_err"),
        round(expr("aggregate(errs, cast(0.0 as double), (a, x) -> a + x) / size(errs)"), 6)
          .as("mean_err"))
      .orderBy("vec_id")

  /** Per-label pooled centroid (the class-centroid / cluster-stats
    * primitive): posexplode each vector once, then ONE partial-
    * aggregated shuffle keyed (label, dim) — map-side combine reduces
    * every partition to ≤ |labels|·dim rows regardless of corpus
    * size, so this scales to 100 TB with a constant-size shuffle.
    * Output is scalar (label, i, c, n) rows, driver-comparable. */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("i"))
      .agg(round(avg(col("col").cast("double")), 4).as("c"), count(lit(1)).as("n"))
      .orderBy("label", "i")
}
