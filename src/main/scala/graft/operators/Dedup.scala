package graft.operators

import graft.Tables
import graft.CacheRegistry.Cacheable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for LLM training-data pipelines
  * (SURVEY.md §2.3), over `documents` / `embeddings`.
  *
  * Scale design: every variant shuffles FIXED-WIDTH keys (64/128-bit
  * hashes, minhash bands, simhash chunks), never document bodies. At
  * 100 TB that is the difference between a ~1 TB shuffle and a 100 TB
  * one. All signature computation is pure `functions._` higher-order
  * expressions — map-only, no UDF, no driver round-trips.
  */
object Dedup {

  // --- corpus scale gate ---------------------------------------------

  /** The dedup family's ONE corpus-size decision. Each dir-based entry
    * point reads it once, from the memoized document count
    * ([[Tables.rowCount]], per session and path), and passes it to
    * its frame-parameterized core; the cores default to
    * [[Scale.Default]] (no cache, broadcast probe), and the plan
    * specs force the other two tiers through that argument.
    *
    * `cache`: persist the shingle arrays / exploded gram tables (and
    * broadcast the n-gram-Jaccard verify sides) — a win below the
    * measured crossover, a loss past it (see [[ngramJaccardPairs]],
    * [[dedupSubstring]]).
    *
    * `shuffleGrams`: the span cutters repartition the gram scan on `g`
    * once instead of broadcasting the repeated-gram set. Repeated
    * grams are ∝ duplicated text, and on crawl-scale corpora (10-50%
    * duplication at 100 TB) the df≥2 set is far past any broadcast
    * threshold — without the switch Spark would silently
    * sort-merge-join, shuffling the ~20-bytes-per-character gram
    * stream ON TOP of the count's pruned shuffle. The forced shape
    * shuffles once and the count and probe reuse the exchange
    * (plan-asserted in PlanSpec). The limit comes from round 15's
    * crossover measurement on the 10× replica: at 50k docs / 10×
    * duplication the broadcast shape still wins, so the switch sits
    * well above every testable scale and exists for the cluster
    * regime. */
  private[graft] sealed abstract class Scale(val cache: Boolean, val shuffleGrams: Boolean)
  private[graft] object Scale {
    case object Small extends Scale(cache = true, shuffleGrams = false)
    case object Default extends Scale(cache = false, shuffleGrams = false)
    case object Huge extends Scale(cache = false, shuffleGrams = true)
    val CacheDocLimit = 20000L
    val SpanBroadcastDocLimit = 2000000L
    def of(s: SparkSession, dir: String): Scale = {
      val docs = Tables.rowCount(s, dir, "documents")
      if (docs <= CacheDocLimit) Small
      else if (docs > SpanBroadcastDocLimit) Huge
      else Default
    }
  }

  // --- exact ---------------------------------------------------------

  /** Exact dedup: group by a 192-bit compound hash (xxhash64 + md5) of
    * the text so the shuffle carries ~40 bytes/row instead of the
    * document body; keep the minimum doc_id per group. The DuckDB
    * oracle groups by the raw text — identical output barring a
    * 2^-96-probability hash collision. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(xxhash64(col("text")).as("h64"), md5(col("text")).as("h128"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  // --- shingles ------------------------------------------------------

  /** Distinct character n-gram shingles of the lowercased text, hashed
    * to 64-bit longs — pure expression (sequence + transform +
    * substring), stays in codegen. */
  private[operators] def shingleExpr(n: Int): String =
    s"array_distinct(transform(sequence(1, greatest(length(text) - ${n - 1}, 1)), i -> xxhash64(substring(lower(text), i, $n))))"

  /** 60-bit hash from the first 15 hex digits of md5 — chosen over
    * xxhash64 for the minhash/simhash base hash because the DuckDB
    * oracle can recompute it exactly (`('0x'||substr(md5(x),1,15))
    * ::BIGINT`), turning both sketches from rows-only into
    * hash-verified queries. Always positive, so `pmod` == `%`. */
  private[graft] def md5Hash60Sql(inner: String): String =
    s"cast(conv(substring(md5($inner), 1, 15), 16, 10) as bigint)"

  /** Shingle variant on the oracle-reproducible md5 hash. */
  private[operators] def shingleExprMd5(n: Int): String =
    s"array_distinct(transform(sequence(1, greatest(length(text) - ${n - 1}, 1)), i -> ${md5Hash60Sql(s"substring(lower(text), i, $n)")}))"

  /** n-gram Jaccard dedup with PPJoin-style prefix filtering: a pair
    * with J ≥ τ must share a shingle within the first
    * |A| − ⌈τ·|A|⌉ + 1 elements of a canonical (sorted-by-hash)
    * ordering, so only prefixes are exploded and joined — candidate
    * count drops from O(docs²·overlap) to near-linear. Exact: the
    * final Jaccard is computed on full shingle sets via
    * array_intersect, so the filter only prunes, never alters scores.
    * At 100 TB the join shuffles (prefix-hash, doc_id, shingle-array)
    * — bounded by prefix length, not document size. */
  def dedupNgramJaccard(s: SparkSession, dir: String, n: Int = 12, tau: Double = 0.8): DataFrame =
    ngramJaccardPairs(Tables.documents(s, dir), n, tau, Scale.of(s, dir))

  /** [[dedupNgramJaccard]] over a document frame, at the given
    * [[Scale]] — factored so the plan spec can force the uncached,
    * unbroadcast at-scale form on a small corpus. */
  private[graft] def ngramJaccardPairs(documents: DataFrame, n: Int, tau: Double,
                                       scale: Scale = Scale.Default): DataFrame = {
    // The shingle table and the df-ordered prefixes each feed BOTH
    // sides of a self-join plus the verification joins; persist them
    // (memory-and-disk) or the whole upstream recomputes per branch —
    // the same call a 100 TB run would make, sized by docs not bytes.
    // Array-typed columns pay PER-ELEMENT deserialization out of the
    // columnar cache, so caching the shingle arrays inverts with
    // corpus size: at 5k docs the cached warm run is ~4x faster (all
    // three consumers reread a tiny cache), at 50k docs it is 6-10x
    // SLOWER than recomputing the codegen'd shingle expression from
    // parquet text (measured on the 10x replica set). Cache only
    // below the crossover; the narrow (doc_id, sz, sh) prefix table
    // below is cached unconditionally — long columns cache cleanly.
    val docsBase = documents
      .select(col("doc_id"), sort_array(expr(shingleExpr(n))).as("shingles"))
      .withColumn("sz", size(col("shingles")))
    val docs = if (scale.cache) docsBase.cacheTracked else docsBase
    // Canonical order = ascending document frequency (PPJoin): the
    // prefix then holds each document's RAREST shingles, so candidate
    // pairs stay near-linear even when the corpus shares vocabulary.
    // (dfreq asc, sh) is a global total order, so every document ranks
    // its shingles consistently — the PPJoin prefix guarantee needs
    // exactly that. One windowed pass replaces the former
    // collect_list + struct re-sort + slice + re-explode: no full
    // per-document arrays are ever materialized, and the per-doc sort
    // is a spillable window sort.
    import org.apache.spark.sql.expressions.Window
    val occ = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val dfreq = occ.groupBy("sh").agg(count(lit(1)).as("dfreq"))
    val byDoc = Window.partitionBy("doc_id")
    // Candidate generation shuffles ONLY (shingle, doc_id) pairs from
    // the prefixes — never the shingle arrays.
    // All PRUNING filters (prefix length, size ratio, positional)
    // derive from tauF = tau − 5e-5, not tau itself: the accept
    // predicate below is round(J, 4) >= tau, whose effective
    // threshold is tau − 5e-5 (a pair with true J in [tau−5e-5, tau)
    // rounds UP and must survive pruning). Lossless for the rounded
    // predicate; the extra candidates are negligible.
    val tauF = tau - 0.00005
    val ex = occ.join(dfreq, "sh")
      .withColumn("rk", row_number().over(byDoc.orderBy(col("dfreq"), col("sh"))))
      .withColumn("sz", count(lit(1)).over(byDoc))
      .filter(col("rk") <= (col("sz") - ceil(col("sz") * tauF) + 1).cast("int"))
      .select("doc_id", "sz", "rk", "sh")
      .cacheTracked
    // Size filter: J ≥ τ forces τ ≤ |A|/|B| ≤ 1/τ — prune in the join.
    // Positional filter (PPJoin): both prefixes are slices of the SAME
    // global (dfreq, sh) total order, so the globally-first common
    // shingle t0 of a qualifying pair sits at the minimum matched rank
    // on BOTH sides (no common shingle precedes it on either), and
    // overlap ≤ 1 + min(|A|−rank_A(t0), |B|−rank_B(t0)). Taking the two
    // rank minima independently can only land at-or-before t0, which
    // LOOSENS the bound — qualifying pairs always survive; the exact
    // verify below decides survivors. J ≥ τ ⟺ overlap ≥ τ/(1+τ)·
    // (|A|+|B|); the 1e-9 slack keeps double rounding from shaving an
    // exact-boundary pair. Measured on the round-8 corpus (5k docs,
    // shared-vocabulary synthetic text): 90,050 → 16,813 candidate
    // pairs, the verify stage's input cut 5.4× at zero recall loss
    // (256 verified pairs before and after).
    val tFrac = tauF / (1.0 + tauF)
    val cands = ex.select(col("doc_id").as("id_a"), col("sz").as("pa"), col("rk").as("ra"), col("sh"))
      .join(ex.select(col("doc_id").as("id_b"), col("sz").as("pb"), col("rk").as("rb"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b") &&
        col("pa") >= ceil(col("pb") * tauF) && col("pb") >= ceil(col("pa") * tauF))
      .groupBy("id_a", "id_b")
      .agg(min("ra").as("ia"), min("rb").as("ib"),
        first("pa").as("pa"), first("pb").as("pb"))
      .filter(lit(1) + least(col("pa") - col("ia"), col("pb") - col("ib")) >=
        lit(tFrac) * (col("pa") + col("pb")) - lit(1e-9))
      .select("id_a", "id_b")
    // Arrays are fetched per candidate pair (few); the verification
    // intersect is graft's codegen'd sorted-merge expression. Below the
    // same size cutoff that makes the shingle cache profitable, the
    // doc-array side also broadcasts (the cached plan's size estimate
    // overshoots the 10 MB auto threshold, forcing two sort-merge
    // joins that shuffle candidate rows CARRYING the first join's
    // array payload); past the cutoff the hint is withheld and the
    // joins shuffle — the 100 TB shape.
    def vside(d: DataFrame) = if (scale.cache) broadcast(d) else d
    val withSets = cands
      .join(vside(docs.select(col("doc_id").as("id_a"), col("shingles").as("sa"), col("sz").as("sz_a"))), "id_a")
      .join(vside(docs.select(col("doc_id").as("id_b"), col("shingles").as("sb"), col("sz").as("sz_b"))), "id_b")
    withSets
      .withColumn("common",
        graft.functions.VectorFunctions.sorted_intersect_count(col("sa"), col("sb")))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 4))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  // --- minhash + LSH -------------------------------------------------

  /** Mersenne31: keeps a*h+b within 62 bits, so the minhash arithmetic
    * never overflows a long inside the expression tree. */
  private[graft] val MersennePrime = (1L << 31) - 1
  /** Deterministic (a, b) per permutation — splitmix-style constants.
    * `private[graft]`: the DuckDB oracle generator inlines the same
    * constants so both engines run the identical permutation family. */
  private[graft] def perm(i: Int): (Long, Long) = {
    var x = 0x9e3779b97f4a7c15L * (i + 1)
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    val a = math.abs(x % (MersennePrime - 1)) + 1
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    val b = math.abs(x % MersennePrime)
    (a, b)
  }

  /** numPerms minhash values over the shingle-hash array as explode +
    * numPerms min-aggregates — the historical formulation, kept as
    * the independent reference the property spec checks the
    * map-side [[graft.functions.MinhashSignature]] expression
    * against (the operators themselves use the expression: same
    * values, no signature shuffle). */
  private[graft] def minhashAggs(h: Column, numPerms: Int): Seq[Column] =
    (0 until numPerms).map { i =>
      val (a, b) = perm(i)
      min(pmod(pmod(h, lit(MersennePrime)) * lit(a) + lit(b), lit(MersennePrime))).as(s"m$i")
    }

  /** MinHash + banded LSH: signature → bands of `rowsPerBand` → hash
    * each band → shuffle only (band_idx, band_hash, doc_id) pairs →
    * candidates = docs sharing ≥1 band bucket → verify with the full
    * signature (estimated Jaccard = fraction of equal minhashes).
    *
    * 100 TB: the only shuffle is 16-byte band keys; candidate
    * verification joins signatures (256 B), never text. */
  def dedupMinhashLsh(s: SparkSession, dir: String, n: Int = 9, numPerms: Int = 32,
                      rowsPerBand: Int = 4, tau: Double = 0.8): DataFrame = {
    val numBands = numPerms / rowsPerBand
    // Signatures are ONE codegen'd map-side expression over the
    // shingle array (no explode, no groupBy(doc_id) shuffle — the
    // former explode + numPerms min-aggregates formulation shuffled
    // the whole corpus before banding even began); persisted because
    // they feed the banding explode AND two verification joins.
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.minhash_signature(expr(shingleExprMd5(n)), numPerms)
          .as("sig"))
      .cacheTracked
    val banded = docs.select(
      col("doc_id"), col("sig"),
      explode(array((0 until numBands).map { bIdx =>
        struct(lit(bIdx).as("band"),
          xxhash64(slice(col("sig"), bIdx * rowsPerBand + 1, rowsPerBand)).as("bh"))
      }: _*)).as("bucket"))
      .select(col("doc_id"), col("sig"), col("bucket.band"), col("bucket.bh"))
    val a = banded.select(col("doc_id").as("id_a"), col("band"), col("bh"))
    val b = banded.select(col("doc_id").as("id_b"), col("band"), col("bh"))
    // distinct on bare id pairs (16 bytes) BEFORE re-attaching the
    // 256-byte signatures — the band join's duplicates never carry
    // payload through the distinct's shuffle.
    val cands = a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(docs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), c => c))
          .cast("double") / lit(numPerms), 4))
      .filter(col("est_jaccard") >= tau)
      .select("id_a", "id_b", "est_jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Incremental dedup — the operator a production 100 TB pipeline
    * runs daily: dedup a NEW shard against the EXISTING corpus instead
    * of re-deduplicating everything. A new-shard document is flagged
    * `exact_dup` when its 192-bit text hash matches any corpus
    * document, and `near_dup` when any of its minhash band buckets
    * collides with a corpus band bucket (the same signature family as
    * [[dedupMinhashLsh]] — banding is the candidate-level flag by
    * design; pair verification is the batch operator's job).
    *
    * Scale shape: the shard is tiny relative to the corpus, so the
    * shard's fixed-width keys (band hashes, text hashes) BROADCAST and
    * the corpus side is scanned map-only through a broadcast semi-join
    * emitting only colliding keys — the corpus never shuffles, which
    * is the whole point of incremental dedup. In production the corpus
    * signatures would be a precomputed table; here both sides derive
    * from `documents` split deterministically (doc_id % shardMod == 0
    * → new shard). */
  def dedupIncremental(s: SparkSession, dir: String, n: Int = 9, numPerms: Int = 32,
                       rowsPerBand: Int = 4, shardMod: Long = 10): DataFrame = {
    def isNew(c: Column): Column = c % shardMod === 0
    val docs = Tables.documents(s, dir)
    val banded = bandTuples(docs, n, numPerms, rowsPerBand).cacheTracked
    val bandKeys = bandKeyCols(rowsPerBand)
    val newBands = banded.filter(isNew(col("doc_id")))
    // corpus scan → broadcast semi-join → only the colliding band keys
    // survive (small); the shard then flags itself against them.
    val hotBands = banded.filter(!isNew(col("doc_id"))).select(bandKeys.map(col): _*)
      .join(broadcast(newBands.select(bandKeys.map(col): _*).distinct()), bandKeys, "left_semi")
      .distinct()
    val nearIds = newBands.join(hotBands, bandKeys, "left_semi")
      .select("doc_id").distinct()
    val hashes = docs
      .select(col("doc_id"), xxhash64(col("text")).as("h64"), md5(col("text")).as("h128"))
      .cacheTracked
    val newHashes = hashes.filter(isNew(col("doc_id")))
    val hotHashes = hashes.filter(!isNew(col("doc_id"))).select("h64", "h128")
      .join(broadcast(newHashes.select("h64", "h128").distinct()), Seq("h64", "h128"), "left_semi")
      .distinct()
    val exactIds = newHashes.join(hotHashes, Seq("h64", "h128"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(isNew(col("doc_id"))).select("doc_id")
      .join(exactIds.withColumn("e", lit(true)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("nd", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_dup"),
        coalesce(col("nd"), lit(false)).as("near_dup"))
      .orderBy("doc_id")
  }

  /** The incremental family's band key columns: band index + the RAW
    * rowsPerBand minhash values as scalar columns (m0..m{r-1}) — NOT
    * an xxhash64 of the slice. Joining on the raw tuple makes the
    * engine's collision semantics exactly the DuckDB oracle's
    * raw-band-tuple join (a 64-bit band-hash collision can no longer
    * produce a Spark-only near_dup flag), and scalar long columns
    * bucket/broadcast as well as a hash would. 8 + 32 bytes per key
    * vs 8 + 8 hashed — irrelevant against the corpus it avoids
    * shuffling. */
  private[graft] def bandKeyCols(rowsPerBand: Int): Seq[String] =
    "band" +: (0 until rowsPerBand).map(j => s"m$j")

  /** (doc_id, band, m0..m{r-1}) rows: one explode of the map-side
    * minhash signature into its raw band tuples. */
  private[operators] def bandTuples(docs: DataFrame, n: Int, numPerms: Int,
                                    rowsPerBand: Int): DataFrame = {
    val numBands = numPerms / rowsPerBand
    docs
      .select(col("doc_id"),
        graft.functions.VectorFunctions.minhash_signature(expr(shingleExprMd5(n)), numPerms)
          .as("sig"))
      .select(col("doc_id"),
        explode(array((0 until numBands).map { bIdx =>
          struct(lit(bIdx).as("band") +:
            (0 until rowsPerBand).map(j =>
              col("sig")(bIdx * rowsPerBand + j).as(s"m$j")): _*)
        }: _*)).as("b"))
      .select(col("doc_id") +: bandKeyCols(rowsPerBand).map(k => col(s"b.$k")): _*)
  }

  /** Builds (once per distinct parameterization) the PERSISTED corpus
    * dedup state that [[dedupIncrementalPersisted]] probes: two
    * bucketed+sorted parquet tables, band signatures keyed by the raw
    * band tuple (band, m0..m3)
    * and text hashes keyed (h64, h128). This is the production shape
    * the plain [[dedupIncremental]] docstring promises — the corpus's
    * signatures are computed ONCE when a document enters the corpus,
    * not re-derived on every daily run. Bucketing on the probe keys
    * means the probe-side `distinct()` of colliding keys runs with
    * zero Exchange (the bucketed scan's HashPartitioning already
    * satisfies the aggregate's clustering requirement) — at 100 TB
    * the daily run touches the corpus as a map-only scan and nothing
    * about the corpus ever shuffles. Idempotent: rebuilt only if the
    * table is absent. Table names spell out every parameter (plus a
    * short dir hash against slug-sanitization collisions): two
    * distinct parameterizations can never alias to the same state
    * table, so a stale table can never silently answer for the wrong
    * params — a 31-bit name hash alone left that failure mode open. */
  def corpusStateTables(s: SparkSession, dir: String, n: Int = 9, numPerms: Int = 32,
                        rowsPerBand: Int = 4, shardMod: Long = 10,
                        numBuckets: Int = 8): (String, String) = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val key = s"${slug}_${dirTag}_n${n}_p${numPerms}_r${rowsPerBand}_s${shardMod}_b${numBuckets}_v3"
    val bandsT = s"graft_corpus_bands_$key"
    val hashesT = s"graft_corpus_hashes_$key"
    val corpus = Tables.documents(s, dir).filter(col("doc_id") % shardMod =!= 0)
    // A compaction that crashed between its rename-aside and rename-in
    // leaves the live name absent while the only complete copy (appended
    // shards included) sits under `_compacting_old` — restore it BEFORE
    // the exists-check below decides to rebuild from base docs, which
    // would silently lose every appended shard signature.
    graft.sources.Sources.restoreInterruptedCompaction(s, bandsT)
    graft.sources.Sources.restoreInterruptedCompaction(s, hashesT)
    // The in-memory catalog forgets tables across JVMs while the
    // warehouse directory persists; saveAsTable refuses to create over
    // an orphaned location, so drop the stale directory (purely derived
    // state) before rebuilding. Shared with Sources so both sites use
    // the catalog's LOWERCASED directory name — the generated table
    // name embeds the dir slug, and a verbatim (mixed-case) path here
    // would never match the on-disk directory, leaving the orphan to
    // fail the rebuild's saveAsTable.
    if (!s.catalog.tableExists(bandsT)) {
      graft.sources.Sources.clearOrphanedLocation(s, bandsT)
      graft.sources.Sources.writeBucketed(
        bandTuples(corpus, n, numPerms, rowsPerBand),
        bandsT, bandKeyCols(rowsPerBand), numBuckets)
    }
    if (!s.catalog.tableExists(hashesT)) {
      graft.sources.Sources.clearOrphanedLocation(s, hashesT)
      graft.sources.Sources.writeBucketed(
        corpus.select(col("doc_id"), xxhash64(col("text")).as("h64"), md5(col("text")).as("h128")),
        hashesT, Seq("h64", "h128"), numBuckets)
    }
    (bandsT, hashesT)
  }

  /** The write half of the daily-ingest loop: append an accepted
    * shard's band tuples and text hashes INTO the persisted corpus
    * state, so tomorrow's [[dedupIncrementalPersisted]] probes see
    * today's documents. Appends go through the same bucketed
    * saveAsTable spec, so new files land in the same bucket layout
    * and the probe side keeps its zero-Exchange plan; at 100 TB this
    * is an O(shard) write, never a corpus rewrite. (Periodic
    * compaction of small per-append files is an ops concern the
    * bucket layout already supports — rewrite one bucket at a time.)
    *
    * Durability caveat: appends live as long as the CATALOG's bucket
    * metadata. On a durable metastore (Hive/Glue — the production
    * deployment) they are permanent; this environment's in-memory
    * catalog forgets bucket specs at JVM exit, after which
    * [[corpusStateTables]] must rebuild state from scratch (bucketed
    * parquet files without their catalog entry cannot be re-attached,
    * so the orphaned directory is cleared, appended shards included).
    * In-session semantics — append, then every later probe sees the
    * shard — are what the loop-closure spec pins. */
  def appendShardToCorpus(s: SparkSession, dir: String, shardDocIds: DataFrame,
                          n: Int = 9, numPerms: Int = 32, rowsPerBand: Int = 4,
                          shardMod: Long = 10, numBuckets: Int = 8,
                          afterBands: () => Unit = () => ()): Unit =
    appendShardDocs(s, dir,
      Tables.documents(s, dir).join(shardDocIds, Seq("doc_id"), "left_semi"),
      n, numPerms, rowsPerBand, shardMod, numBuckets, afterBands)

  /** Text-carrying variant of [[appendShardToCorpus]]: `shardDocs`
    * already holds (doc_id, text) — the streaming ingest loop's
    * accepted batch does — so the append skips the id→text recovery
    * join, which cost ONE FULL DOCUMENTS SCAN PER APPEND TABLE per
    * batch (the dominant fixed cost the round-8 ingest measurement
    * attributed to "the two bucketed appends"). */
  def appendShardDocs(s: SparkSession, dir: String, shardDocs: DataFrame,
                      n: Int = 9, numPerms: Int = 32, rowsPerBand: Int = 4,
                      shardMod: Long = 10, numBuckets: Int = 8,
                      afterBands: () => Unit = () => ()): Unit = {
    val (bandsT, hashesT) = corpusStateTables(s, dir, n, numPerms, rowsPerBand, shardMod, numBuckets)
    // Idempotent under ingest retries, PER TABLE: each append anti-joins
    // against the doc_ids already present in ITS OWN table, so a crash
    // between the two appends (bands written, hashes not) is REPAIRED
    // by the retry — the bands append no-ops, the hashes append fills
    // in the gap — instead of duplicating band rows. (A single shared
    // membership check that read only hashesT, which is written second,
    // re-appended the bands after exactly that crash window.) Each
    // check is one column-pruned map-only scan of the table against
    // the broadcast shard ids — the same O(corpus-scan, shard-sized
    // output) class as the probe itself, nothing shuffles.
    val shard = shardDocs.select(col("doc_id"), col("text"))
    def fresh(table: String): DataFrame = {
      val already = s.table(table).select("doc_id")
        .join(broadcast(shard.select("doc_id")), Seq("doc_id"), "left_semi")
        .distinct()
      shard.join(broadcast(already), Seq("doc_id"), "left_anti")
    }
    // Pre-partition each append on its bucket key tuple: repartition's
    // HashPartitioning is the same murmur3-pmod formula bucketBy uses,
    // so every write task holds exactly ONE bucket's rows → numBuckets
    // files per append instead of (shuffle.partitions × buckets) tiny
    // files — the difference between a state table that accretes ~256
    // files per micro-batch and one that accretes 8, which every later
    // probe scan and append membership check has to plan over.
    graft.sources.Sources.writeBucketed(
      bandTuples(fresh(bandsT), n, numPerms, rowsPerBand)
        .repartition(numBuckets, bandKeyCols(rowsPerBand).map(col): _*),
      bandsT, bandKeyCols(rowsPerBand), numBuckets, mode = "append")
    afterBands() // test seam: crash window between the two appends
    graft.sources.Sources.writeBucketed(
      fresh(hashesT)
        .select(col("doc_id"), xxhash64(col("text")).as("h64"), md5(col("text")).as("h128"))
        .repartition(numBuckets, col("h64"), col("h128")),
      hashesT, Seq("h64", "h128"), numBuckets, mode = "append")
  }

  /** Compact both persisted corpus state tables for one
    * parameterization — the deferred ops path for daily-append file
    * accumulation: each table is rewritten through
    * [[graft.sources.Sources.compactBucketed]] (bucketed scan →
    * identically-bucketed write, zero Exchange, one output file per
    * bucket) and swapped in under the same name, so probe plans and
    * flags are unchanged (BucketingSpec asserts both). */
  def compactCorpusState(s: SparkSession, dir: String, n: Int = 9, numPerms: Int = 32,
                         rowsPerBand: Int = 4, shardMod: Long = 10,
                         numBuckets: Int = 8): Unit = {
    val (bandsT, hashesT) = corpusStateTables(s, dir, n, numPerms, rowsPerBand, shardMod, numBuckets)
    graft.sources.Sources.compactBucketed(s, bandsT, bandKeyCols(rowsPerBand), numBuckets)
    graft.sources.Sources.compactBucketed(s, hashesT, Seq("h64", "h128"), numBuckets)
  }

  // --- corpus deletion (tombstones + deferred purge) -----------------

  /** The tombstone table backing [[forgetFromCorpus]] — the DELETION
    * VECTOR design: removing a document from bucketed state cannot
    * rewrite in place (bucketed tables have no partition to target),
    * so deletion is logical-first: an O(batch) append of doc_ids
    * here, honored immediately by the tombstone-aware probes, made
    * physical later by [[purgeCorpusTombstones]] folding the filter
    * into the next compaction pass. */
  private[graft] def corpusTombstonesTable(s: SparkSession, dir: String, n: Int = 9,
      numPerms: Int = 32, rowsPerBand: Int = 4, shardMod: Long = 10,
      numBuckets: Int = 8): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val key = s"${slug}_${dirTag}_n${n}_p${numPerms}_r${rowsPerBand}_s${shardMod}_b${numBuckets}_v3"
    val table = s"graft_corpus_tombs_$key"
    if (!s.catalog.tableExists(table)) {
      graft.sources.Sources.clearOrphanedLocation(s, table)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType))))
        .write.format("parquet").saveAsTable(table)
    }
    // every consumer routes through this accessor, so an interrupted
    // reinstate rewrite is healed BEFORE any probe reads the table —
    // a crash mid-swap can never present an empty suppression list
    StagedRewrite.recover(s, table)
    table
  }

  /** Logical deletion from the persisted corpus state: append the ids
    * to the tombstone table (idempotent by anti-join — a redelivered
    * deletion request is a no-op). O(batch); no state row moves.
    *
    * SUPPRESSION-LIST semantics, deliberately: a forgotten doc_id
    * stays forgotten even if the document is REDELIVERED afterwards —
    * [[appendShardDocs]]' per-table idempotency anti-join swallows the
    * re-arrival (the signatures are still physically present until
    * purge) and the tombstone keeps excluding it from every probe.
    * That is the compliance-correct default: at-least-once upstreams
    * replay old batches, and an accidental redelivery must not
    * resurrect a deleted user's data. The INTENTIONAL re-add (user
    * re-consents) is its own explicit API — [[reinstateInCorpus]].
    *
    * Concurrency contract: SINGLE WRITER per corpus, like every
    * mutation path over these tables (parquet has no transactional
    * append). Two concurrent deletion batches with overlapping ids
    * could both pass the anti-join and insert duplicate tombstone
    * rows; semantics would still hold because every CONSUMER is
    * duplicate-inert — the probes and the purge anti-join on the
    * set, and [[purgeCorpusTombstones]] distincts before its count
    * check — but the per-row no-op count contract assumes one writer. */
  def forgetFromCorpus(s: SparkSession, dir: String, ids: DataFrame, n: Int = 9,
                       numPerms: Int = 32, rowsPerBand: Int = 4, shardMod: Long = 10,
                       numBuckets: Int = 8): Unit = {
    corpusStateTables(s, dir, n, numPerms, rowsPerBand, shardMod, numBuckets)
    val t = corpusTombstonesTable(s, dir, n, numPerms, rowsPerBand, shardMod, numBuckets)
    ids.select(col("doc_id")).distinct()
      .join(s.table(t), Seq("doc_id"), "left_anti")
      .write.mode("append").insertInto(t)
  }

  /** The INTENTIONAL inverse of [[forgetFromCorpus]] (user
    * re-consents): remove the ids from the tombstone table, which —
    * BEFORE the physical purge — instantly restores them to every
    * tombstone-aware probe, because their signatures never left the
    * state tables. AFTER a purge the signatures are physically gone
    * and the tombstones already empty, so reinstatement is a no-op
    * here and the caller re-ingests through the normal
    * [[appendShardToCorpus]] path (which now accepts them — purge
    * removed their rows from the idempotency anti-join too). The
    * tombstone table is tiny by design (pending deletions only), so
    * the rewrite is O(tombstones); it runs through
    * [[StagedRewrite]]'s durable staging + commit-marker protocol,
    * so a crash at ANY point — including between the TRUNCATE and
    * the re-append — is repaired by the next call (or by the next
    * probe, via the accessor's recover hook) without losing any
    * OTHER user's pending deletion. */
  def reinstateInCorpus(s: SparkSession, dir: String, ids: DataFrame, n: Int = 9,
                        numPerms: Int = 32, rowsPerBand: Int = 4, shardMod: Long = 10,
                        numBuckets: Int = 8,
                        afterStage: () => Unit = () => (),
                        afterTruncate: () => Unit = () => ()): Unit = {
    val t = corpusTombstonesTable(s, dir, n, numPerms, rowsPerBand, shardMod, numBuckets)
    val idSet = ids.select(col("doc_id")).distinct()
    if (!s.table(t).join(idSet, Seq("doc_id"), "left_semi").isEmpty) {
      val keep = s.table(t).join(broadcast(idSet), Seq("doc_id"), "left_anti")
      StagedRewrite.rewrite(s, t, keep, afterStage, afterTruncate)
    }
  }

  /** [[dedupIncrementalPersisted]] with tombstones honored: each
    * probe anti-joins the (broadcast, tiny) tombstone set on doc_id
    * BEFORE the key semi-join, so a forgotten document stops causing
    * dup flags IMMEDIATELY — without waiting for the physical purge.
    * The anti-join is a broadcast over the bucketed scan: the probe
    * keeps its zero-shuffle plan, it just reads one more (pruned)
    * column. Flags equal [[dedupIncremental]] computed on the corpus
    * minus the forgotten set — the never-ingested contract. */
  def dedupIncrementalForget(s: SparkSession, dir: String, n: Int = 9, numPerms: Int = 32,
                             rowsPerBand: Int = 4, shardMod: Long = 10): DataFrame = {
    val (bandsT, hashesT) = corpusStateTables(s, dir, n, numPerms, rowsPerBand, shardMod)
    val tombs = s.table(corpusTombstonesTable(s, dir, n, numPerms, rowsPerBand, shardMod))
    def live(table: String): DataFrame =
      s.table(table).join(broadcast(tombs), Seq("doc_id"), "left_anti")
    val shard = Tables.documents(s, dir).filter(col("doc_id") % shardMod === 0)
    val bandKeys = bandKeyCols(rowsPerBand)
    val newBands = bandTuples(shard, n, numPerms, rowsPerBand).cacheTracked
    val hotBands = live(bandsT)
      .join(broadcast(newBands.select(bandKeys.map(col): _*).distinct()), bandKeys, "left_semi")
      .select(bandKeys.map(col): _*).distinct()
    val nearIds = newBands.join(hotBands, bandKeys, "left_semi")
      .select("doc_id").distinct()
    val newHashes = shard
      .select(col("doc_id"), xxhash64(col("text")).as("h64"), md5(col("text")).as("h128"))
      .cacheTracked
    val hotHashes = live(hashesT)
      .join(broadcast(newHashes.select("h64", "h128").distinct()), Seq("h64", "h128"), "left_semi")
      .select("h64", "h128").distinct()
    val exactIds = newHashes.join(hotHashes, Seq("h64", "h128"), "left_semi")
      .select("doc_id").distinct()
    shard.select("doc_id")
      .join(exactIds.withColumn("e", lit(true)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("nd", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_dup"),
        coalesce(col("nd"), lit(false)).as("near_dup"))
      .orderBy("doc_id")
  }

  /** The corpus-deletion loop as one query (`pipe_corpus_forget`):
    * persisted state is built, the odd-id half of the corpus is
    * forgotten (tombstoned — a deterministic set that provably flips
    * some shard flags while others survive, so the exclusion is
    * non-vacuous), and the tombstone-aware incremental probe reports
    * shard flags that must equal a corpus that never contained the
    * forgotten documents (the oracle recomputes flags on the
    * filtered corpus). */
  def pipeCorpusForget(s: SparkSession, dir: String): DataFrame = {
    forgetFromCorpus(s, dir,
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 1).select("doc_id"))
    dedupIncrementalForget(s, dir)
  }

  /** Physical deletion: fold the tombstone filter into the normal
    * compaction pass (bucketed scan → broadcast anti-join → bucketed
    * write, still zero-Exchange), then truncate the tombstone table
    * — after which the plain probes and the tombstone-aware ones see
    * the same state. */
  def purgeCorpusTombstones(s: SparkSession, dir: String, n: Int = 9, numPerms: Int = 32,
                            rowsPerBand: Int = 4, shardMod: Long = 10,
                            numBuckets: Int = 8): Unit = {
    val (bandsT, hashesT) = corpusStateTables(s, dir, n, numPerms, rowsPerBand, shardMod, numBuckets)
    val tombsT = corpusTombstonesTable(s, dir, n, numPerms, rowsPerBand, shardMod, numBuckets)
    // distinct on read: duplicate tombstone rows (possible only if the
    // single-writer contract in [[forgetFromCorpus]] was violated) are
    // inert here — anti-joins ignore right-side multiplicity anyway,
    // and the distinct keeps the broadcast no larger than the id set
    val tombs = s.table(tombsT).distinct()
    if (!tombs.isEmpty) {
      // broadcast anti-join, not a driver-side isin: a deletion batch
      // can be large, and the anti-join preserves the bucketed scan's
      // partitioning so the pass stays zero-Exchange
      val drop = (df: DataFrame) => df.join(broadcast(tombs), Seq("doc_id"), "left_anti")
      graft.sources.Sources.compactBucketed(s, bandsT, bandKeyCols(rowsPerBand), numBuckets, drop)
      graft.sources.Sources.compactBucketed(s, hashesT, Seq("h64", "h128"), numBuckets, drop)
      s.sql(s"TRUNCATE TABLE $tombsT")
    }
  }

  /** The map-only corpus probe: scan a bucketed key table, keep only
    * keys colliding with the (broadcast) shard key set, dedup the
    * survivors. Plan shape asserted in BucketingSpec: one bucketed
    * scan, one BroadcastExchange (the tiny shard keys), ZERO shuffle
    * Exchange — the `distinct()` reuses the scan's bucket
    * partitioning. `keyCols` must be a prefix-superset of the table's
    * bucket columns. */
  private[graft] def probeCorpusKeys(s: SparkSession, table: String,
                                     shardKeys: DataFrame, keyCols: Seq[String]): DataFrame =
    s.table(table).select(keyCols.map(col): _*)
      .join(broadcast(shardKeys), keyCols, "left_semi")
      .distinct()

  /** [[dedupIncremental]] against PERSISTED corpus state — the real
    * daily-ingest operation: O(shard) new work plus a map-only scan of
    * the stored corpus key tables from [[corpusStateTables]]; corpus
    * signatures are never recomputed and corpus rows never shuffle.
    * Output is identical to [[dedupIncremental]] (same signature
    * family, same flags), so it shares that operator's DuckDB oracle
    * verbatim. */
  def dedupIncrementalPersisted(s: SparkSession, dir: String, n: Int = 9, numPerms: Int = 32,
                                rowsPerBand: Int = 4, shardMod: Long = 10): DataFrame = {
    val (bandsT, hashesT) = corpusStateTables(s, dir, n, numPerms, rowsPerBand, shardMod)
    def isNew(c: Column): Column = c % shardMod === 0
    val docs = Tables.documents(s, dir)
    val shard = docs.filter(isNew(col("doc_id")))
    val bandKeys = bandKeyCols(rowsPerBand)
    // cached: feeds both the broadcast key set and the flag probe
    val newBands = bandTuples(shard, n, numPerms, rowsPerBand).cacheTracked
    val hotBands = probeCorpusKeys(s, bandsT,
      newBands.select(bandKeys.map(col): _*).distinct(), bandKeys)
    val nearIds = newBands.join(hotBands, bandKeys, "left_semi")
      .select("doc_id").distinct()
    val newHashes = shard
      .select(col("doc_id"), xxhash64(col("text")).as("h64"), md5(col("text")).as("h128"))
      .cacheTracked
    val hotHashes = probeCorpusKeys(s, hashesT,
      newHashes.select("h64", "h128").distinct(), Seq("h64", "h128"))
    val exactIds = newHashes.join(hotHashes, Seq("h64", "h128"), "left_semi")
      .select("doc_id").distinct()
    shard.select("doc_id")
      .join(exactIds.withColumn("e", lit(true)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("nd", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_dup"),
        coalesce(col("nd"), lit(false)).as("near_dup"))
      .orderBy("doc_id")
  }

  // --- simhash -------------------------------------------------------

  /** 64-bit SimHash over word tokens — ONE map-side codegen'd kernel
    * ([[graft.functions.Simhash64]]): the per-document token shuffle
    * of the explode + 64 conditional-count formulation disappears and
    * the simhash is computed inside the document scan. The empty-token
    * filter preserves the explode path's drop-empty semantics. */
  private[operators] def simhashFromTokens(docs: DataFrame): DataFrame =
    docs.filter(size(col("toks")) > 0)
      .select(col("doc_id"), graft.functions.VectorFunctions.simhash64(col("toks")).as("sh"))

  /** The historical explode + 64 conditional-count aggregate
    * formulation (one shuffle on doc_id) — kept as the independent
    * reference the property spec checks the map-side kernel against. */
  private[graft] def simhashFromTokensAgg(docs: DataFrame): DataFrame = {
    val bitCounts = (0 until 64).map { b =>
      count(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)).as(s"b$b")
    }
    val packed = (0 until 64).map { b =>
      when(col(s"b$b") * 2 > col("n_tok"), shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    docs.select(col("doc_id"), explode(col("toks")).as("t"))
      .select(col("doc_id"), expr(md5Hash60Sql("t")).as("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), bitCounts: _*)
      .select(col("doc_id"), packed.as("sh"))
  }

  /** SimHash near-dup: candidates via pigeonhole banding (4 × 16-bit
    * chunks — hamming ≤ 3 ⇒ some chunk equal), verified with
    * bit_count(xor) ≤ maxHamming. Shuffle payload: (chunk_idx,
    * 16-bit chunk value, doc_id). */
  def dedupSimhash(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val docs = simhashFromTokens(Tables.documents(s, dir).select(
      col("doc_id"),
      expr("filter(split(lower(text), '\\\\s+'), t -> t != '')").as("toks")))
      .cacheTracked
    val chunked = docs.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * 16).bitwiseAND(0xffffL).as("cv"))
      }: _*)).as("cb"))
      .select(col("doc_id"), col("sh"), col("cb.chunk"), col("cb.cv"))
    val a = chunked.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("chunk"), col("cv"))
    val b = chunked.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  // --- clusters ------------------------------------------------------

  /** Connected components over a near-dup pair list by alternating
    * large-star/small-star contraction (see
    * [[connectedComponentsLoop]]): O(log² n) rounds regardless of
    * component diameter; each round shuffles only the O(|E|) edge
    * rows. The driver-side loop checks one fingerprint aggregate per
    * round (no data collected).
    *
    * Small-graph fast path: the near-dup edge set is O(duplicates),
    * not O(corpus) — usually a vanishing fraction. At or below
    * `driverEdgeCap` edges (~1.6 MB of longs at the default) the
    * components are computed driver-local by min-rooted union-find —
    * the same bounded-collect class as the convergence probe — which
    * replaces ~4 iterative join jobs with one collect. Above the cap
    * the distributed min-label loop below runs unchanged; both paths
    * produce the identical (id, label = component min) frame. */
  private[graft] def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                                         driverEdgeCap: Long = 100000): DataFrame = {
    val s = pairs.sparkSession
    val pairEdges = pairs.select(col("id_a"), col("id_b")).cacheTracked
    if (pairEdges.count() <= driverEdgeCap) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val rows = pairEdges.collect()
      rows.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      import s.implicits._
      return rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.toSeq
        .map(id => (id, find(id))).toDF("id", "label")
    }
    connectedComponentsLoop(pairEdges, maxIter)
  }

  /** Distributed connected components — the >driverEdgeCap path —
    * by ALTERNATING LARGE-STAR / SMALL-STAR contraction (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond",
    * Algorithm 5). The previous min-label propagation here converged
    * in O(component diameter) rounds, which is fine for shallow
    * near-dup cliques but SILENTLY MISLABELS any component deeper
    * than maxIter — at 100 TB a transitive near-dup chain (doc A ~ B
    * ~ C ~ …) of depth 21 would have split into two clusters with no
    * error. Star contraction halves component height geometrically
    * (O(log² n) rounds regardless of diameter: a 4,096-hop chain
    * converges in ~12 alternations where min-label needed 4,096), and
    * non-convergence within maxIter now throws instead of returning
    * wrong labels.
    *
    *  - large-star: each node u links every LARGER neighbor to
    *    m = min(Γ(u) ∪ u) — moves deep subtrees directly under local
    *    minima without ever growing the edge count.
    *  - small-star: orient edges (larger → smaller); each node links
    *    its smaller neighbors and itself to its minimum — flattens
    *    the remaining short paths into stars.
    *
    * Fixpoint: the edge set stops changing; every non-minimum node
    * then holds exactly one edge to its component minimum. Each round
    * shuffles only the O(|E|) edge rows on their endpoint keys; no
    * adjacency list is ever collected (a hub node's Γ(u) stays a
    * grouped aggregate, never an array). The convergence probe is a
    * count + order-independent xxhash64 fingerprint in ONE aggregate
    * per half-round; lineage is truncated per round via a lazy
    * [[Lineage.cut]] (localCheckpoint by default, reliable checkpoint
    * under `graft.reliableCheckpointDir` — executor loss mid-loop on
    * a real cluster is then a retry, not a job failure) so round N's
    * planning doesn't re-analyze rounds 1..N-1. */
  private[graft] def connectedComponentsLoop(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // The near-dup edge set is orders of magnitude smaller than the
    // corpus, so the loop runs on a handful of partitions — per-round
    // task overhead, not data volume, is the cost driver here.
    // single use (final join); pairs itself is cached by the caller
    val nodes = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id"))).distinct()
    var edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .coalesce(4)
      .transform(Lineage.cut(_, eager = false))
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy("u").agg(least(col("u"), min("v")).as("m"))
      bidir.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min("v").as("m"))
      oriented.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    // (count, sum-of-row-hashes): order-independent edge-set
    // fingerprint; a collision (≈2⁻⁶⁴ per round) could only stop one
    // round early on an ALREADY star-shaped remainder, and the final
    // one-edge-per-node shape is what the equality specs pin.
    def probe(e: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal accumulator: full-range xxhash64 values overflow an
      // ANSI-mode long sum after a handful of rows
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect().head
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    var prev = probe(edges)
    var iter = 0
    var converged = prev._1 == 0L
    while (iter < maxIter && !converged) {
      val next = Lineage.cut(smallStar(largeStar(edges)), eager = false)
      val cur = probe(next)
      edges = next
      converged = cur == prev
      prev = cur
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter star rounds — raise maxIter")
    // fixpoint edges are (node → component min); minima label themselves
    nodes
      .join(edges.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Full dedup pipeline output: near-dup pairs (n-gram Jaccard) →
    * connected components → one keeper (min doc_id) per cluster.
    * Docs with no near-dup are their own singleton cluster. */
  def dedupClusters(s: SparkSession, dir: String, n: Int = 12, tau: Double = 0.8): DataFrame = {
    val pairs = dedupNgramJaccard(s, dir, n, tau)
    val labels = connectedComponents(pairs)
    Tables.documents(s, dir).select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** EXACT-substring cross-document dedup (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * signal, pair-reporting form): emit every document pair sharing
    * at least one exact `n`-char substring (n = 50 ≈ the paper's
    * 50-token spirit at this corpus's scale), with the count of
    * DISTINCT shared n-grams as span-overlap evidence. Catches the
    * copy-paste overlap Jaccard misses (a 60-char verbatim quote in
    * two otherwise-unrelated docs is invisible at τ=0.8 whole-doc
    * similarity).
    *
    * Scale shape: one map-only scan computes the rolling-hash gram
    * set per doc ([[graft.functions.NgramHashes]], codegen'd,
    * per-doc distinct); the shuffle carries fixed-width (hash,
    * doc_id) rows only. The quadratic danger is BOILERPLATE — a gram
    * in h docs yields h² pairs — so grams with document frequency
    * > `maxDf` are dropped (production handles boilerplate as its
    * own pass; the cap makes pair fan-out ≤ maxDf per gram by
    * construction).
    *
    * The whole pipeline is WHOLE-STAGE-CODEGEN LONGS, deliberately:
    * a long-only HashAggregate counts df per gram (fixed-width
    * UnsafeRow state, partial map-side combine — a boilerplate gram
    * in 10⁶ docs is one running count, never a buffered list), the
    * surviving 2 ≤ df ≤ maxDf grams semi-filter the gram table, and
    * a self-join on the gram hash emits pairs straight out of the
    * join (per-key fan-out ≤ maxDf·(maxDf−1)/2 by the cap), into one
    * final (id_a, id_b) partial-aggregated count. An earlier form
    * aggregated a bounded-collect UDAF then exploded nested
    * transform/slice/struct arrays; that is the same shuffle but an
    * OBJECT aggregation (ObjectHashAggregate falls back to
    * sort-based at 128 distinct keys — millions of gram groups run
    * the slow path) plus O(pairs) short-lived array/struct
    * allocations, and its allocation rate made the operator the
    * bench's most host-sensitive line (2 s quiet host, 18 s under
    * memory pressure — r11/r12 drift flags). Fixed-width UnsafeRow
    * aggregation + join has no per-row object churn, so the cost is
    * stable under GC pressure — the executor-under-pressure shape
    * that matters at 100 TB. The filtered gram exchange is REUSED on
    * both sides of the self-join (one shuffle of (g, doc_id), not
    * two). Oracle replays raw substrings in the same
    * count→filter→join shape (equal hashes ⟺ equal substrings
    * barring a 64-bit rolling collision — the dedup_ngram_jaccard
    * contract). */
  def dedupSubstring(s: SparkSession, dir: String, n: Int = 50, maxDf: Int = 50): DataFrame = {
    // (doc_id, g) is two LONG columns — unlike the shingle ARRAYS the
    // ngram-jaccard path must not cache (per-element deserialization),
    // this caches columnar-clean, and it feeds the df-count aggregate
    // plus the join probe: one gram computation, not two. But the
    // exploded gram table is ~16 bytes PER CORPUS CHARACTER — far
    // larger than the documents themselves — so caching inverts at
    // scale exactly like the jaccard path's shingle cache: below the
    // crossover it saves the second codegen scan (measured 2.5 → 1.4 s
    // at sf0.1); above it, the uncached form's REUSED EXCHANGE (one
    // (g, doc_id) shuffle feeds both sides of the self-join) is the
    // 100 TB shape — recomputing a codegen'd scan is cheap, spilling a
    // 16×-corpus cache is not. Same [[Scale]] gate as the jaccard
    // shingle cache.
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.VectorFunctions.ngram_hashes(lower(col("text")), n))).as("g"))
    substringPairs(grams, maxDf, Scale.of(s, dir))
  }

  /** [[dedupSubstring]]'s pair pipeline over an exploded (doc_id, g)
    * gram table — factored so the plan spec can drive the UNCACHED
    * at-scale form and assert its reused exchange. A caching
    * [[Scale]] persists the gram table and also the rare-gram hit
    * rows (gram occurrences of kept grams only — the candidate set,
    * tiny below the crossover, proportional to DUPLICATED text at
    * scale, hence the same gate): the steady-state warm run then
    * reads one small cache instead of re-joining (measured 1.4 →
    * 0.6 s at sf0.1). */
  private[graft] def substringPairs(gramsBase: DataFrame, maxDf: Int,
                                    scale: Scale = Scale.Default): DataFrame = {
    val grams = if (scale.cache) gramsBase.cacheTracked else gramsBase
    // ONE gram shuffle, three consumers: the explicit repartition on
    // the gram hash clusters the stream once, and then the df-count
    // aggregate, the hit probe, and the self-join's second side all
    // consume that same exchange (ReusedExchange — 50-char gram
    // hashes are near-all-distinct, so partial map-side combine
    // cannot compress this stream and a second shuffle would cost
    // the full gram volume again; measured 8.1 → ~2 s on the
    // natural-growth sf1 twin). The aggregate and both join sides
    // see HashPartitioning(g), so no further exchange is planned.
    val ex = grams.repartition(col("g"))
    val rare = ex.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select("g")
    // df ≤ maxDf ⟹ the join below sees the COMPLETE doc set per kept
    // gram, so pairs-from-join ≡ pairs-from-complete-list.
    val hitsBase = ex.join(rare, "g")
    val hits = if (scale.cache) hitsBase.cacheTracked else hitsBase
    hits.select(col("g"), col("doc_id").as("id_a"))
      .join(hits.select(col("g"), col("doc_id").as("id_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("id_a", "id_b")
  }

  /** SPAN-LEVEL removal of repeated exact substrings
    * (`pipe_span_dedup`) — the actual INTERVENTION of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): where [[dedupSubstring]] DETECTS cross-document
    * repeated 50-char spans and reports pairs, this CUTS them — every
    * maximal run of positions covered by a repeated n-gram is deleted
    * from the document and the surviving text is re-joined, so the
    * corpus keeps the unique remainder of a boilerplate-wrapped page
    * instead of dropping or keeping it whole. Matches the released
    * tool's semantics (google-research/deduplicate-text-datasets):
    * ALL occurrences of a repeated span are removed, including the
    * first — "repeated" = the n-gram occurs at ≥ 2 positions in the
    * corpus, within-document repeats included (a page-local
    * boilerplate run is exactly as useless to train on twice).
    *
    * Never silent: every document emits its cut evidence
    * (`n_spans_cut`, `n_chars_cut` — the gopher-gate convention of
    * flags-next-to-drops), and the cleaned text rides out as
    * `clean_len` + `clean_md5` (the pipe_chunk md5-certification
    * convention — the oracle replays the cuts character-by-character
    * and must land on the same digest). A fully-duplicated document
    * survives as an empty string with n_chars_cut = length — the
    * caller's signal to drop it, auditable.
    *
    * Multi-byte safe: offsets are CODE-POINT offsets from the
    * char-window rolling-hash kernel ([[graft.functions
    * .NgramHashesChars]]), the same unit `substr` counts in both
    * Spark and DuckDB, so cutting is exact on any UTF-8 text —
    * `is_ascii` is a DIAGNOSTIC column only (round 15 gated cutting
    * on it; round 16 removed the gate). Collision-safe: 64-bit hash
    * equality only nominates CANDIDATE positions; before any cut,
    * each candidate's RAW lowercased n-char window is re-extracted
    * and must itself occur ≥ 2 times (a bounded confirmation pass ∝
    * duplicated text; the persisted-index form counts occurrences by
    * the window's 128-bit md5 — conviction at 2⁻¹²⁸) — at the 100 TB
    * target (~1e14 grams) 64-bit collisions are a statistical
    * certainty (~1e8 expected pairs), and an unconfirmed collision
    * would irreversibly delete non-duplicated text. Documents shorter than `n` (code points)
    * cannot contain a repeated span and pass through with zero cuts;
    * the rare document whose code-point count CHANGES under
    * lowercasing (e.g. U+0130 İ — a Turkish crawl shard, not an
    * exotic corner) also passes through uncut — gram offsets are
    * computed on lower(text) and applied to text, which is only
    * sound when the two align position-for-position — and is FLAGGED
    * with `lc_stable = false` in the output (the is_ascii
    * never-silent convention: a caller can count and route the
    * skipped documents instead of discovering them by absence of
    * cuts; the DuckDB oracle replays the same predicate).
    *
    * Scale shape: map-only codegen scans emit fixed-width
    * (doc_id, p, g) rows; the occurrence count shuffles a
    * column-pruned g-only stream, and the hit probe broadcast-joins
    * the repeated-gram set (∝ duplicated text) against the scan, so
    * the fat per-character stream never shuffles (unlike
    * [[substringPairs]], no self-join forces a gram partitioning
    * here). On duplication-HEAVY corpora — the operator's target
    * regime at 100 TB, where the repeated-gram set itself outgrows
    * any broadcast threshold — corpora that the [[Scale]] gate puts
    * past its doc limit get the deliberate fallback instead: one forced gram
    * repartition of the scan (the [[substringPairs]] shape) that both
    * the count and the probe reuse as a single exchange, rather than
    * an accidental sort-merge-join shuffle of the fat stream on top
    * of the count's. Hit positions are ∝ DUPLICATED text, so the
    * confirmation pass (raw-window re-extraction + one sub-keyed
    * window), the interval merge (one doc_id-keyed window) and the
    * rebuild join are all hit-sized; the per-doc collect_list of cut
    * spans is an object aggregate over hit DOCS only — bounded by
    * duplicated-doc count, never the gram-group millions that made
    * dedup_substring's object agg a GC hazard. The rebuild is a
    * per-doc `aggregate` over its sorted cut list — per-document
    * state, no corpus-sized buffer. One-pass semantics like the
    * paper's: cutting can in principle create new cross-boundary
    * repeats (two docs whose sub-50-char fragments concatenate
    * identically); the spec pins that a second pass finds nothing on
    * real data. */
  def pipeSpanDedup(s: SparkSession, dir: String, n: Int = 50): DataFrame =
    certified(spanDedupCore(Tables.documents(s, dir).select(col("doc_id"), col("text")), n,
      Scale.of(s, dir)))

  /** The span-cut registry entries' certified projection: cut
    * evidence plus the cleaned text's length and md5, by doc_id. */
  private def certified(cut: DataFrame): DataFrame =
    cut.select(col("doc_id"), col("is_ascii"), col("lc_stable"), col("n_spans_cut"),
        col("n_chars_cut"), col("cut_ranges"),
        length(col("clean_text")).cast("long").as("clean_len"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")

  /** The span cutters' input: the document frame plus the two
    * diagnostic flags every output row carries. */
  private def spanBase(docs: DataFrame): DataFrame = docs
    .withColumn("is_ascii", length(col("text")) === octet_length(col("text")))
    .withColumn("lc_stable", length(lower(col("text"))) === length(col("text")))

  /** Documents the span cutters can cut: at least `n` code points, and
    * a code-point count that lowercasing keeps — gram offsets computed
    * on lower(text) only apply to text when the two align
    * position-for-position (scaladoc caveat; U+0130-class documents
    * pass through uncut). */
  private def spanEligible(n: Int): Column =
    length(col("text")) >= n && length(lower(col("text"))) === length(col("text"))

  /** (doc_id, carry…, p, g): one row per code-point n-char window of
    * every eligible document, `g` the window's rolling hash over the
    * lowercased text ([[graft.functions.NgramHashesChars]]). */
  private def gramPositions(docs: DataFrame, n: Int, carry: String*): DataFrame =
    docs.filter(spanEligible(n))
      .select((col("doc_id") +: carry.map(col)) :+ posexplode(
        graft.functions.VectorFunctions.ngram_hashes_chars(lower(col("text")), n))
        .as(Seq("p", "g")): _*)

  /** Shared candidate→confirmed hit derivation for the span-cut
    * family: code-point-window rolling-hash CANDIDATES (df ≥ 2 on the
    * 64-bit hash), then each candidate's raw lowercased n-char window
    * re-extracted from the document and kept only when the RAW window
    * itself occurs ≥ 2 times — hash equality nominates, substring
    * equality convicts, so a 64-bit collision can never delete
    * non-duplicated text. Output: (doc_id, p, sub) candidate rows,
    * one per candidate occurrence; the batch cores count the raw
    * window directly (`cdf`/`firstPacked` via the shared sub-keyed
    * window — measured faster than digest keys at local scale, see
    * spanDedupCore), the persisted-index cores project it to its
    * 128-bit md5 to meet the digest-only index.
    *
    * Cost shape: the confirmation joins the per-doc hit-position list
    * back to the text ONCE per hit document (collect_list is bounded
    * by positions-per-doc), re-extracts ∝ hit windows, and runs one
    * sub-keyed window over hit rows — everything ∝ duplicated text,
    * the fat per-character stream untouched. */
  private def spanCandidateSubs(base: DataFrame, n: Int, scale: Scale): DataFrame = {
    val posBase0 = gramPositions(base, n)
    // Past-broadcast fallback (duplication-heavy corpora): repartition
    // the scan on g once; the count needs no further exchange and the
    // probe co-locates — one fat shuffle, reused. Below the limit the
    // probe broadcasts the df>=2 set and the fat stream never
    // shuffles at all (plan-verified both ways in PlanSpec).
    val posBase = if (scale.shuffleGrams) posBase0.repartition(col("g")) else posBase0
    // the occurrence count and the hit probe both read the
    // per-position gram table — a caching [[Scale]] caches it below
    // the dedupSubstring crossover (the exploded table is ~20 bytes
    // PER CORPUS CHARACTER, so at scale the uncached double codegen
    // scan is the 100 TB shape: recomputing a scan is cheap, spilling
    // a 20×-corpus cache is not)
    val pos = if (scale.cache) posBase.cacheTracked else posBase
    val rep = pos.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("g")
    // EXPLICIT broadcast below the doc limit (guide §3.1: size
    // estimates after an aggregate+filter are wrong, so say it):
    // Catalyst estimates `rep` from its pre-filter child — and once
    // the warm run materializes the tracked gram cache, that estimate
    // is the cache's REAL ~20-bytes-per-character size, far past the
    // 10 MB auto-broadcast threshold — so every steady-state (timed)
    // run silently degraded to a SortMergeJoin: one extra fat
    // exchange of the whole (doc_id, p, g) stream plus sorts on BOTH
    // sides (measured r19: the SMJ stage alone was 16-33 exec-s of
    // the query's ~19-29 s total at sf0.1; AQE cannot rescue it
    // because the conversion looks at the 28 MB pre-filter map
    // output, not the 0.5 MB df>=2 survivor set). The actual df>=2
    // set is ∝ duplicated text, and every dir-based entry point
    // passes its [[Scale]], so past the doc limit the forced-shuffle
    // branch takes over and this broadcast never sees a corpus whose
    // repeated-gram set could outgrow the 8 GB broadcast cap.
    // Frame-parameterized core callers (specs) pass small literal
    // frames at the default scale.
    val probe = if (scale.shuffleGrams) pos.join(rep.hint("merge"), "g")
                else pos.join(broadcast(rep), "g")
    val hits0 = probe.select(col("doc_id"), col("p"))
    // confirmation: re-extract the raw window at each candidate
    // position — `sub` is the ground-truth key from here
    subsAt(base, hits0, n)
  }

  /** Raw n-char lowercased windows at the given (doc_id, p) candidate
    * positions: text joined once per hit doc (positions carried as a
    * bounded per-doc list), the window extracted in the same stage —
    * cost ∝ candidate rows, the fat text column never shuffled per
    * position. */
  private def subsAt(base: DataFrame, hitPos: DataFrame, n: Int): DataFrame = {
    val hitList = hitPos.groupBy("doc_id").agg(collect_list(col("p")).as("ps"))
    base.join(hitList, Seq("doc_id"))
      .select(col("doc_id"), col("text"), explode(col("ps")).as("p"))
      .select(col("doc_id"), col("p"),
        lower(col("text")).substr(col("p") + 1, lit(n)).as("sub"))
  }

  /** Maximal covered runs from confirmed hit positions: each hit
    * covers [p, p+n); gaps-and-islands over the per-doc position
    * order (running max of span ends). Shared by [[spanDedupCore]]
    * and [[spanDedupIncrementalCore]]. */
  private def spanIslands(hits: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("p")
    val prevEnd = max(col("p") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      // a hit starting AT the previous run's end is adjacent — same
      // maximal run (strict > starts a new island)
      .withColumn("ni", coalesce(col("p") > prevEnd, lit(true)).cast("int"))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("p")).cast("long").as("s"),
        (max(col("p")) + n).cast("long").as("e"))
  }

  /** [[pipeSpanDedup]]'s frame-parameterized core, keeping the
    * cleaned text as a column — factored so the idempotence spec can
    * feed the cleaned corpus back through and assert zero further
    * cuts. */
  private[graft] def spanDedupCore(docs: DataFrame, n: Int,
                                   scale: Scale = Scale.Default): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = spanBase(docs)
    val subs = spanCandidateSubs(base, n, scale)
    // convict on the raw window: ≥ 2 occurrences of the SUBSTRING
    // (one hit-sized window shuffle on sub — collision candidates
    // whose raw windows are unique fall out here). Measured choice:
    // digest-keying this window (md5 per candidate, 16-byte shuffle
    // keys) was tried in round 17 and lost 15-20% on the 10×-replica
    // worst case at local[32] — the per-candidate md5 CPU exceeds
    // the shuffle-width saving when the exchange never crosses a
    // network; the persisted-index probe (which MUST digest for the
    // corpus join) keeps the digest form.
    val wSub = Window.partitionBy("sub")
    val hits = subs
      .withColumn("cdf", count(lit(1)).over(wSub))
      .filter(col("cdf") >= 2)
      .select(col("doc_id"), col("p"))
    spanRebuild(base, spanIslands(hits, n))
  }

  /** Shared tail of the span-cut family: per-doc (s, e) half-open cut
    * spans → cleaned text (fold over the sorted cut list), counts,
    * and the canonical "s-e;s-e" range string. */
  private def spanRebuild(base: DataFrame, spans: DataFrame): DataFrame = {
    val cuts = spans.groupBy("doc_id").agg(
      sort_array(collect_list(struct(col("s"), col("e")))).as("cuts"),
      count(lit(1)).as("n_spans_cut"),
      sum(col("e") - col("s")).as("n_chars_cut"))
    // rebuild: fold the sorted cut list, appending each kept segment
    // (previous cut end .. next cut start), then the tail
    base.join(cuts, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("cuts").isNull, col("text")).otherwise(
          aggregate(
            col("cuts"),
            struct(lit("").as("t"), lit(0L).as("q")),
            (acc, c) => struct(
              concat(acc.getField("t"),
                col("text").substr(acc.getField("q").cast("int") + 1,
                  (c.getField("s") - acc.getField("q")).cast("int"))).as("t"),
              c.getField("e").as("q")),
            acc => concat(acc.getField("t"),
              col("text").substr(acc.getField("q").cast("int") + 1,
                length(col("text")))))))
      .select(col("doc_id"), col("is_ascii"), col("lc_stable"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        coalesce(col("n_chars_cut"), lit(0L)).as("n_chars_cut"),
        // the ranges themselves, canonical "s-e;s-e" form (sorted,
        // half-open) — the audit trail that makes every cut
        // reconstructible from the original text, not just counted
        coalesce(concat_ws(";", transform(col("cuts"),
          c => concat(c.getField("s"), lit("-"), c.getField("e")))), lit(""))
          .as("cut_ranges"),
        col("clean_text"))
  }

  /** KEEP-FIRST span dedup (`pipe_span_dedup_keep_first`) — the
    * paper's STATED semantics ("remove all but one occurrence"; the
    * released tool removes all, which [[pipeSpanDedup]] matches): the
    * globally-FIRST occurrence of each repeated n-gram — minimal
    * (doc_id, p) — is a KEEPER, and a position is cut iff some
    * non-keeper repeated-gram occurrence covers it AND no keeper
    * occurrence does. Keeper coverage therefore survives verbatim:
    * every repeated span still exists at least once in the cleaned
    * corpus (spec-asserted), while later copies lose exactly the
    * text a keeper does not protect.
    *
    * Scale shape: same gram machinery as [[spanDedupCore]], then a
    * BOUNDARY SWEEP instead of a single interval merge — each hit
    * contributes ±1 events on its cut or keep counter at p and p+n,
    * one per-doc window computes both running sums, and a boundary
    * segment is cut when cutCover > 0 ∧ keepCover = 0; consecutive
    * cut segments merge into maximal runs. Events are ∝ HITS (4 rows
    * each), never ∝ characters — the keep-first decision costs one
    * more window over the same duplicated-text-sized stream. */
  def pipeSpanDedupKeepFirst(s: SparkSession, dir: String, n: Int = 50): DataFrame =
    certified(spanDedupKeepFirstCore(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), n, Scale.of(s, dir)))

  /** [[pipeSpanDedupKeepFirst]]'s frame-parameterized core. */
  private[graft] def spanDedupKeepFirstCore(docs: DataFrame, n: Int,
                                            scale: Scale = Scale.Default): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = spanBase(docs)
    val subs = spanCandidateSubs(base, n, scale)
    // keeper = lexicographic (doc_id, p) argmin among the CONFIRMED
    // raw-window occurrences (raw-sub window key — see the measured
    // digest-vs-raw note in spanDedupCore), PACKED into one long
    // (doc_id << 24 | p) so the sub-keyed window stays a fixed-width
    // aggregate — min over a struct falls back to OBJECT aggregation
    // (the dedup_substring GC lesson).
    val wSub = Window.partitionBy("sub")
    val hits = subs
      .withColumn("packed", packedGuarded(col("doc_id"), col("p")))
      .withColumn("cdf", count(lit(1)).over(wSub))
      .withColumn("firstPacked", min(col("packed")).over(wSub))
      .filter(col("cdf") >= 2)
      .withColumn("keeper", col("packed") === col("firstPacked"))
      .select(col("doc_id"), col("p"), col("keeper"))
    // boundary sweep: ±1 events on the cut/keep counters at each
    // hit's [p, p+n) endpoints, collapsed per boundary
    spanRebuild(base, spanKeepFirstSweep(hits, n))
  }

  /** The keep-first (doc_id, p) lexicographic argmin key, PACKED into
    * one long (doc_id << 24 | p). The packing envelope (p < 2^24 code
    * points ≈ a 16 M-char document, doc_id < 2^39) is ENFORCED, not
    * assumed: a violating row raises rather than silently electing
    * the wrong keeper and md5-certifying the wrong output. */
  private val PackShift = 24
  private def packedGuarded(docId: Column, p: Column): Column = when(
    assert_true(p < lit(1 << PackShift) && docId < lit(1L << (63 - PackShift)),
      lit(s"span keep-first: packed-argmin envelope exceeded " +
        s"(need position < 2^$PackShift and doc_id < 2^${63 - PackShift})")).isNull,
    shiftleft(docId, PackShift) + p)

  /** Guarded narrowing to INT — raises instead of silently wrapping
    * if the value ever leaves [0, 2³¹), the same raise-don't-wrap
    * discipline as [[packedGuarded]]. Used where the envelope is
    * structural today (per-document counts/positions, bounded by the
    * JVM's 2³¹−1 string length) so a future change of the aggregation
    * grain fails loudly rather than corrupting stored rows. */
  private def intGuarded(c: Column, what: String): Column = when(
    assert_true(c >= lit(0L) && c <= lit(Int.MaxValue.toLong),
      lit(s"$what: INT envelope exceeded (need 0 <= value < 2^31)")).isNull,
    c.cast("int"))

  /** The keep-first BOUNDARY SWEEP: (doc_id, p, keeper) hit
    * occurrences → per-doc (s, e) cut spans. ±1 events on the
    * cut/keep counters at each hit's [p, p+n) endpoints, one per-doc
    * window computing both running sums, a segment cut when
    * cutCover > 0 ∧ keepCover = 0; consecutive cut segments merge
    * into maximal runs. Events ∝ hits (4 rows each), never ∝ chars.
    * Shared by [[spanDedupKeepFirstCore]] and
    * [[spanDedupKeepFirstIncrementalCore]]. */
  private def spanKeepFirstSweep(hits: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both endpoint events come from ONE pass over hits (explode of a
    // 2-struct array), not a self-union: hits sits on top of the
    // per-window sort exchange, and the union form re-read that
    // exchange and re-ran the window for each branch — stage-profiled
    // on the 10× replica in round 18 as a 956 MB read of
    // a 478 MB exchange, the single biggest keep-first premium over
    // remove-all
    val ev = hits.select(col("doc_id"), explode(array(
        struct(col("p").as("pos"),
          when(col("keeper"), lit(0)).otherwise(lit(1)).as("dc"),
          when(col("keeper"), lit(1)).otherwise(lit(0)).as("dk")),
        struct((col("p") + n).as("pos"),
          when(col("keeper"), lit(0)).otherwise(lit(-1)).as("dc"),
          when(col("keeper"), lit(-1)).otherwise(lit(0)).as("dk")))).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"),
        col("e.dc").as("dc"), col("e.dk").as("dk"))
      .groupBy("doc_id", "pos")
      .agg(sum(col("dc")).as("dc"), sum(col("dk")).as("dk"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val runFrame = w.rowsBetween(Window.unboundedPreceding, 0)
    val segs = ev
      .withColumn("cc", sum(col("dc")).over(runFrame))
      .withColumn("ck", sum(col("dk")).over(runFrame))
      .withColumn("nextPos", lead(col("pos"), 1).over(w))
      .filter(col("nextPos").isNotNull && col("nextPos") > col("pos"))
      .withColumn("cut", col("cc") > 0 && col("ck") === 0)
    // merge consecutive cut segments into maximal runs: a new run
    // starts where a cut segment follows a non-cut one (segments are
    // contiguous between boundaries by construction)
    segs
      .withColumn("ni",
        (col("cut") && !coalesce(lag(col("cut"), 1).over(w), lit(false))).cast("int"))
      .withColumn("run", sum(col("ni")).over(runFrame))
      .filter(col("cut"))
      .groupBy("doc_id", "run")
      .agg(min(col("pos")).cast("long").as("s"),
        max(col("nextPos")).cast("long").as("e"))
  }

  /** Deterministic multi-byte corpus for the `*_multibyte` span
    * entries: every third document gets its 'e'→'é' and 'o'→'ø'
    * (testdata ships pure-ASCII, so the multi-byte cut regime would
    * otherwise be vacuous — the injection is SQL-expressible, so the
    * DuckDB oracle applies the identical transform and the hash gate
    * stays hard). Injected docs share their boilerplate spans with
    * each OTHER (both sides transformed identically), so repeated
    * spans containing multi-byte characters exist and must be CUT —
    * the round-15 implementation would have passed them through
    * uncut as non-ASCII. Lowercase target characters keep `lower()`
    * a code-point-count-preserving no-op on the injected material in
    * both engines. */
  private def multibyteDocs(s: SparkSession, dir: String): DataFrame = {
    // every doc_id % 7 == 1 additionally gets a U+0130 İ prepended —
    // the LC-UNSTABLE class (Java's full lowercase mapping expands İ
    // to two code points): injecting it here makes the
    // excluded-and-flagged behavior ORACLE-VERIFIED, not just spec'd
    // — the DuckDB twin replays the same injection and eligibility
    // predicate, including the knock-on effect that a span shared
    // between an İ doc and ONE stable doc stops counting as repeated
    val injected = when(col("doc_id") % 3 === 0,
        expr("replace(replace(text, 'e', 'é'), 'o', 'ø')"))
      .otherwise(col("text"))
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 7 === 1, concat(lit("İ "), injected))
        .otherwise(injected).as("text"))
  }

  /** [[pipeSpanDedup]] over the multi-byte-injected corpus
    * (`pipe_span_dedup_multibyte`) — the hash-verified evidence that
    * span cutting is exact on non-ASCII text. */
  def pipeSpanDedupMultibyte(s: SparkSession, dir: String, n: Int = 50): DataFrame =
    certified(spanDedupCore(multibyteDocs(s, dir), n, Scale.of(s, dir)))

  /** [[pipeSpanDedupKeepFirst]] over the multi-byte-injected corpus
    * (`pipe_span_keep_first_multibyte`). */
  def pipeSpanKeepFirstMultibyte(s: SparkSession, dir: String, n: Int = 50): DataFrame =
    certified(spanDedupKeepFirstCore(multibyteDocs(s, dir), n, Scale.of(s, dir)))

  // --- incremental span dedup against persisted corpus gram state ---

  /** Per-document (doc_id, g, sh, df, mp) window counts of a document
    * frame — the span-cut family's persistable corpus state: one row
    * per document per distinct raw lowercased n-char window, keyed by
    * the 64-bit rolling hash `g` for probe pruning plus the 128-bit
    * md5 digest `sh` of the raw window for CONVICTION. The round-16
    * discipline (hash nominates, the raw window convicts) survives
    * with the digest standing in for the stored raw text: the 64-bit
    * `g` still only nominates candidates, and the cut criterion
    * compares 128-bit digests of RAW windows (batch side re-extracts
    * its raw text and digests it), so a false cut needs an md5
    * collision — 2⁻¹²⁸ per comparison, ~0 expected even at the 100 TB
    * target's ~1e14 grams (vs ~1e8 expected 64-bit collisions, which
    * is why `g` alone must never convict). Storing 16 digest bytes
    * instead of the raw 50-char window is the footprint fix the r16
    * verdict asked for (~3× fewer bytes per position — measured in
    * README); the raw text stays recoverable from the corpus itself.
    * Keyed per DOCUMENT, not corpus-aggregated: append becomes
    * doc_id-idempotent (the family's exactly-once contract under
    * streaming replay) and compliance forget becomes a doc_id rewrite
    * — row count is the same order either way (distinct windows per
    * doc ≈ positions). Derived in one scan: the window extraction
    * rides the same stage as the kernel posexplode (text never
    * shuffles per position; the aggregate shuffles ~36 bytes per
    * corpus position, v5's INT df/mp trimming the row — the
    * build-time price, toward the reference tool's suffix-array
    * class). */
  private def gramWindowCounts(docs: DataFrame, n: Int): DataFrame = {
    val real = gramPositions(docs, n, "text")
      .select(col("doc_id"), col("g"), col("p"),
        unhex(md5(lower(col("text")).substr(col("p") + 1, lit(n)))).as("sh"))
      .groupBy("doc_id", "g", "sh")
      // `mp` = the window's FIRST position within the doc — enough to
      // reconstruct the global lexicographic (doc_id, p) argmin
      // (each doc's best candidate is its min position), which the
      // keep-first incremental form needs for keeper election.
      // Both stored as INT (v5): each is bounded by ONE document's
      // char count (JVM strings cap at 2³¹−1), so the envelope is
      // structural; df still narrows through the raise-on-overflow
      // guard (the packed-argmin discipline) so a future multi-doc
      // aggregation cannot silently wrap. Probe-side sums (Σ df)
      // auto-widen to LONG, so corpus-wide totals are unaffected.
      .agg(intGuarded(count(lit(1)), "span index df").as("df"),
        min(col("p")).as("mp"))
    // sentinel rows keep EVERY ingested document's id in the index —
    // without them a short / lc-unstable / fully-cut document never
    // enters, and the doc_id-idempotence probe would re-admit its
    // redeliveries forever. Inert at probe time even on a gram-hash
    // match: df = 0 adds nothing to any occurrence sum and no real
    // n-char window digests to md5("") (2⁻¹²⁸), so a sentinel can
    // never confirm a cut. g = doc_id (not a constant) so sentinels
    // SPREAD across the pb layout partitions — a constant g would
    // pile one row per ineligible document into partition pmod(0, P),
    // breaking the bounded-rows-per-partition sizing rule on corpora
    // where short/unstable docs are a large fraction.
    val sentinels = docs.join(docs.filter(spanEligible(n)).select("doc_id"), Seq("doc_id"),
        "left_anti")
      .select(col("doc_id"), col("doc_id").as("g"), unhex(md5(lit(""))).as("sh"),
        lit(0).as("df"), lit(0).as("mp"))
    real.union(sentinels)
  }

  /** Physical-layout knobs for the span gram index (v4): the table is
    * hash-partitioned on `pb = pmod(g, P)` so an incremental probe's
    * broadcast key set DYNAMICALLY PRUNES partitions at the scan
    * (Spark's DPP inserts a `dynamicpruningexpression` on `pb` —
    * plan-asserted in PlanSpec) instead of reading the whole index
    * per arrival. Sizing rule: P grows with the corpus so a partition
    * holds a bounded row count — then a probe whose distinct-gram set
    * is SMALLER than P reads only the partitions its grams hash to,
    * i.e. probe I/O ∝ min(batch grams, P) × partition size, constant
    * in index size once P passes the batch's gram count (the
    * micro-batch / single-document lookup regime; a daily shard whose
    * gram set covers every partition still pays one full column-
    * pruned scan — but a 16-byte-digest one, not a raw-window one).
    * Files within a partition are sorted by `g` so parquet row-group
    * min/max stats stay tight for static g-range reads. P is chosen
    * at BUILD time and recorded as a table property
    * ([[SpanIndexPbProp]]) — probes and appends read it from the
    * table, so layout and content can never disagree. The 65536 cap
    * is directory-count sanity on a single filesystem; a cluster
    * deployment at the 1e14-gram scale raises it (or adds a second
    * bucket level) to keep ~50M rows (~2 GB) per partition. */
  private[graft] val SpanIndexPbProp = "graft.span.pb"

  /** Partition count for a span gram index over `nDocs` documents —
    * ~2000 docs (~2M positions at 1k chars/doc) per partition,
    * clamped to [8, 65536]. */
  private[graft] def spanIndexPartitionsFor(nDocs: Long): Int =
    math.min(65536L, math.max(8L, nDocs / 2000L)).toInt

  /** Sizing target behind [[spanIndexPartitionsFor]], shared by the
    * growth-drift guard below. */
  private[graft] val SpanIndexDocsPerPartition = 2000L

  /** Indexed-document count property — P is frozen into the layout
    * at build time, so a long-lived streaming index that keeps
    * absorbing appends silently grows its per-partition row count and
    * erodes the bounded-rows-per-partition rule the probe-I/O claims
    * rest on. Every creation path stamps this (build: the corpus
    * rowCount P was sized from — an upper bound on what the %10
    * filter actually indexed, which is all the 4× guard needs;
    * create-empty: 0), [[spanGramIndexAppend]] advances it, and
    * [[spanGramIndexForget]] decrements it by the docs actually
    * removed — all under the family's existing single-writer
    * contract. Legacy tables without the property read as 0 — the
    * guard goes quiet rather than wrong, and the next rebuild stamps
    * it. */
  private[graft] val SpanIndexDocsProp = "graft.span.docs"

  /** Appends have grown the index past [[SpanIndexDriftFactor]]× the
    * per-partition sizing target — partition files are ~4× the size
    * the probe-cost story assumes, so a probe reading k partitions
    * pays 4× the documented bytes. The remedy is a rebuild (drop +
    * [[spanGramIndexFor]]), which re-derives P from the grown corpus;
    * content is unaffected either way (the guard watches economics,
    * not correctness). */
  private[graft] val SpanIndexDriftFactor = 4L

  private[graft] def spanIndexDocs(s: SparkSession, table: String): Long =
    s.sql(s"SHOW TBLPROPERTIES $table").collect()
      .collectFirst { case r if r.getString(0) == SpanIndexDocsProp =>
        r.getString(1).toLong }
      .getOrElse(0L)

  private[graft] def spanIndexOversized(s: SparkSession, table: String): Boolean =
    spanIndexDocs(s, table) >
      SpanIndexDriftFactor * spanIndexPb(s, table).toLong * SpanIndexDocsPerPartition

  /** The partition-count property of a span gram index table; every
    * creation path ([[spanGramIndexFor]], [[spanGramIndexCreateEmpty]])
    * records it. Self-healing for registry-named tables: a build that
    * crashed between saveAsTable and the ALTER leaves the table
    * without the property, but P is baked into a `_p<P>_v5` name, so
    * the accessor re-stamps it exactly — here in the one place every
    * reader (probes, appends, forget, the SpanIngest loop's direct
    * indexTable argument) already consults, not at a single call
    * site. Tables whose names don't carry P (the DDL-created
    * tool/spec tables, which get the property atomically at CREATE)
    * fall through to the descriptive error. */
  private[graft] def spanIndexPb(s: SparkSession, table: String): Int =
    s.sql(s"SHOW TBLPROPERTIES $table").collect()
      .collectFirst { case r if r.getString(0) == SpanIndexPbProp =>
        r.getString(1).toInt }
      .orElse("_p(\\d+)_v5$".r.findFirstMatchIn(table).map { m =>
        s.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
          s"('$SpanIndexPbProp' = '${m.group(1)}')")
        m.group(1).toInt
      })
      .getOrElse(throw new IllegalStateException(
        s"table $table lacks $SpanIndexPbProp — span gram indexes must be " +
          "created via spanGramIndexFor or spanGramIndexCreateEmpty"))

  /** Create an EMPTY span gram index with the v4 partitioned layout —
    * the entry point for tools and tests that maintain a local index
    * via [[spanGramIndexAppend]] (replaces the old
    * schema-copy-via-limit(0) trick, which materialized the registry
    * index just to steal its schema and lost the partitioning). */
  def spanGramIndexCreateEmpty(s: SparkSession, table: String, p: Int): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    // a forget() that crashed in its marker-present window leaves
    // <t>_rstage/<t>_rcommit behind; recreating t without clearing
    // them would let the NEXT recover() resurrect the pre-drop rows
    // into the brand-new empty index
    s.sql(s"DROP TABLE IF EXISTS ${StagedRewrite.markerTable(table)}")
    s.sql(s"DROP TABLE IF EXISTS ${StagedRewrite.stageTable(table)}")
    graft.sources.Sources.clearOrphanedLocation(s, table)
    s.sql(s"CREATE TABLE $table (doc_id BIGINT, g BIGINT, sh BINARY, " +
      s"df INT, mp INT) USING parquet PARTITIONED BY (pb INT) " +
      s"TBLPROPERTIES ('$SpanIndexPbProp' = '$p', '$SpanIndexDocsProp' = '0')")
  }

  /** The index partition key of a gram hash under partition count
    * `p`, appended as the layout column `pb`. */
  private def withPb(df: DataFrame, p: Int): DataFrame =
    df.withColumn("pb", pmod(col("g"), lit(p.toLong)).cast("int"))

  /** Micro-probe ROW-GROUP pushdown budget: when an arrival's
    * distinct gram set fits this bound, the probe inlines it as a
    * literal `g IN (...)` filter on the index scan — semantically
    * redundant with the (pb, g) join, but it reaches the parquet
    * reader as a pushed predicate, and the index files are SORTED by
    * g within each pb partition, so row-group min/max stats skip
    * every row group whose g-range misses the probe set. DPP prunes
    * whole partitions (directories); this prunes WITHIN the surviving
    * partitions — at production partition sizes (GBs, dozens of row
    * groups) a 51-gram single-document probe reads ~51 row groups
    * instead of 51 full partitions. Driver cost is bounded: ≤ 1024
    * longs collected (a daily-shard arrival overshoots the bound and
    * skips the inline filter — its gram set covers every row group
    * anyway, the measured saturation regime). No session tuning is
    * needed: Spark 4 translates the IN into a NATIVE parquet In
    * predicate regardless of
    * `spark.sql.parquet.pushdown.inFilterThreshold` (verified against
    * the shipped 4.1.2 ParquetFilters.makeInPredicate, and measured —
    * toggling the threshold changed nothing, only disabling
    * `spark.sql.parquet.filterPushdown` ablates the skip). Measured
    * in round 18: 3× wall on a decode-bound many-row-group build. */
  private[graft] val SpanProbeInlineGramMax = 1024

  /** The index scan for a probe with the given DISTINCT gram frame
    * (the same frame the caller's batchG probe keys derive from —
    * shared so each probe pays for ONE distinct aggregation, not two;
    * ADVICE r18): inlines the set as a pushed filter under the
    * [[SpanProbeInlineGramMax]] budget, else the bare table. The
    * limit(max+1) collect stands in for a separate count — if more
    * than max rows come back the set is incomplete and unusable (the
    * saturation regime pays only a bounded collect of the cached
    * frame). */
  private def probeIndexScan(s: SparkSession, indexTable: String,
                             distinctGrams: DataFrame): DataFrame = {
    val t = s.table(indexTable)
    val gs = distinctGrams.limit(SpanProbeInlineGramMax + 1).collect()
    if (gs.length <= SpanProbeInlineGramMax)
      t.filter(col("g").isInCollection(gs.map(_.getLong(0)).toSeq))
    else t
  }

  /** Persisted corpus gram-window index for INCREMENTAL span cutting
    * — the artifact the capstone's scaladoc points at: a streaming
    * ingest cuts each arriving batch against the EXISTING corpus
    * without rescanning it (the [[corpusStateTables]] discipline
    * applied to the span family). Registry convention: the index
    * covers the non-shard corpus (doc_id % 10 ≠ 0), the shard is the
    * arrival. Built once per (dir, n); growth via
    * [[spanGramIndexAppend]] (doc_id-idempotent), deletion via
    * [[spanGramIndexForget]]. */
  def spanGramIndexFor(s: SparkSession, dir: String, n: Int = 50): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val dirTag = (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
    val prefix = s"graft_span_gram_${slug}_${dirTag}_n${n}"
    // the partition count is baked into the name (and the table
    // property) at build time, so "exists" is a prefix+generation scan
    val existing = s.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith(s"${prefix}_p") && t.endsWith("_v5"))
      .sorted.headOption
    existing match {
      case Some(table) =>
        StagedRewrite.recover(s, table)
        table
      case None =>
        // retire stale schema generations of this dir's index (the
        // lshSeedTable sweep discipline; inside the build branch
        // only). The prefix must be anchored at the generation
        // segment ("_p<P>_v5" or a prior generation like "_p<P>_v4") — a bare
        // startsWith(prefix) would also match a DIFFERENT n whose
        // decimal happens to extend this one (building n=5 would
        // have dropped the live n=50 index).
        s.catalog.listTables().collect().map(_.name)
          .filter(t => (t.startsWith(s"${prefix}_p") || t.startsWith(s"${prefix}_v")) &&
            t.matches(".*_v\\d+$"))
          .foreach(t => s.sql(s"DROP TABLE $t"))
        val nDocs = Tables.rowCount(s, dir, "documents")
        // P is sized from the FULL corpus deliberately (the registry
        // convention leaves the 10% shard out as the arrival a
        // streaming ingest appends — the index should not need a
        // rebuild the day the shard lands), but the docs PROPERTY is
        // stamped with the count actually INDEXED: append advances /
        // forget decrements by exact indexed counts, so a full-corpus
        // stamp would sit permanently ~10% high across
        // forget/re-append lifecycles (ADVICE r18).
        val p = spanIndexPartitionsFor(nDocs)
        val table = s"${prefix}_p${p}_v5"
        // same corpus → same P → same deterministic name: a forget()
        // that crashed in its marker-present window before the index
        // table was dropped/retired leaves <t>_rstage/<t>_rcommit
        // behind, and the first recover() on the REBUILT table would
        // TRUNCATE it and resurrect the pre-forget rows (the exact
        // hazard spanGramIndexCreateEmpty guards against — the guard
        // must be symmetric across both creation paths)
        s.sql(s"DROP TABLE IF EXISTS ${StagedRewrite.markerTable(table)}")
        s.sql(s"DROP TABLE IF EXISTS ${StagedRewrite.stageTable(table)}")
        graft.sources.Sources.clearOrphanedLocation(s, table)
        val corpus = Tables.documents(s, dir)
          .filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text"))
        val indexedDocs = corpus.select("doc_id").count()
        // repartition on pb (each layout partition written by one
        // task) + sort by g within files for tight row-group stats
        withPb(gramWindowCounts(corpus, n), p)
          .repartition(col("pb")).sortWithinPartitions("pb", "g")
          .write.partitionBy("pb").format("parquet").saveAsTable(table)
        s.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
          s"('$SpanIndexPbProp' = '$p', '$SpanIndexDocsProp' = '$indexedDocs')")
        table
    }
  }

  /** Append new documents' window counts to a span gram index —
    * doc_id-IDEMPOTENT (the GraphIngest/appendShardDocs discipline):
    * already-indexed documents are anti-joined out via a map-only
    * broadcast probe of the index's doc_id column, so a streaming
    * replay or an at-least-once redelivery no-ops instead of
    * double-counting windows. The insert itself is one
    * file-commit-protocol-atomic job (a crashed append commits
    * nothing); probe reads sum df across rows, so no
    * read-modify-write of the corpus-sized table ever happens
    * (compaction = rebuild). */
  def spanGramIndexAppend(s: SparkSession, table: String, docs: DataFrame,
                          n: Int = 50): Unit = {
    StagedRewrite.recover(s, table)
    val p = spanIndexPb(s, table)
    val ids = docs.select("doc_id").distinct()
    val indexed = probeCorpusKeys(s, table, ids, Seq("doc_id"))
    // cached: feeds the insert (twice internally — gramWindowCounts'
    // real/sentinel union branches) and the post-insert drift count,
    // so the doc_id index probe runs once per append instead of per
    // consumer; batch-scale rows, released before return
    val fresh = docs.join(broadcast(indexed), Seq("doc_id"), "left_anti").cache()
    try {
      // counted BEFORE the insert: fresh's plan reads the target table
      // (the idempotence probe), so the insert makes Spark recache the
      // dependent InMemoryRelation against the POST-insert state —
      // counting afterwards would self-anti-join every just-inserted
      // doc back out and read 0. Counting first also materializes the
      // cache, so the insert's scan of fresh is a cache read.
      val appended = fresh.select("doc_id").distinct().count()
      // column order (doc_id, g, sh, df, mp, pb) matches the table read
      // order — insertInto is positional, partition column last
      withPb(gramWindowCounts(fresh, n), p)
        .repartition(col("pb")).sortWithinPartitions("pb", "g")
        .write.mode("append").insertInto(table)
      // growth-drift bookkeeping (single-writer contract, same as
      // forgetFromCorpus): advance the indexed-doc count and warn when
      // appends have outgrown the frozen P past the sizing target — a
      // crash between insert and ALTER undercounts, which only delays
      // the warning, never corrupts content
      if (appended > 0L) {
        val total = spanIndexDocs(s, table) + appended
        s.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
          s"('$SpanIndexDocsProp' = '$total')")
        if (spanIndexOversized(s, table))
          System.err.println(s"[graft] span index $table holds $total docs " +
            s"over $p partitions — >${SpanIndexDriftFactor}x the " +
            s"${SpanIndexDocsPerPartition}-docs/partition sizing target, so " +
            "probe I/O per pruned partition is proportionally inflated; " +
            "rebuild (DROP TABLE + spanGramIndexFor) to re-derive P from " +
            "the grown corpus")
      }
    } finally fresh.unpersist()
  }

  /** Compliance deletion for the span gram index: drop every window
    * row of the given doc_ids (one crash-safe [[StagedRewrite]] —
    * the knnGraphForget durability shape). After the forget, spans
    * that only repeated against the forgotten documents stop being
    * cut from future arrivals — exactly the behavior a deletion
    * request requires of derived state. */
  def spanGramIndexForget(s: SparkSession, table: String,
                          docIds: DataFrame): Unit = {
    StagedRewrite.recover(s, table)
    // ids pinned to ONE evaluation (within-call lifetime only): the
    // set feeds both the removed-count and the rewrite's anti-join,
    // and a caller passing a non-deterministic selection (a
    // sampled/limited offender list) must not let the two jobs see
    // different id sets — the counter would silently drift from what
    // the rewrite actually deleted. Through Lineage.cut so the pin
    // honors `graft.reliableCheckpointDir` (executor loss mid-forget
    // becomes a retry on the durable tier, not a job failure)
    val ids = Lineage.cut(docIds.select("doc_id").distinct())
    // keep the growth-drift counter honest across forget+re-append
    // lifecycles: count the docs actually present (sentinel rows give
    // every ingested doc ≥1 row, so distinct doc_id is exact — the
    // probeCorpusKeys shape spanGramIndexAppend's idempotence probe
    // already uses) BEFORE the rewrite; a crash between rewrite and
    // ALTER leaves the counter HIGH, which only warns early, never
    // under-sizes.
    val removed = probeCorpusKeys(s, table, ids, Seq("doc_id")).count()
    val keep = s.table(table)
      .join(broadcast(ids), Seq("doc_id"), "left_anti")
    StagedRewrite.rewrite(s, table, keep)
    if (removed > 0L) {
      val total = math.max(0L, spanIndexDocs(s, table) - removed)
      s.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('$SpanIndexDocsProp' = '$total')")
    }
  }

  /** INCREMENTAL span cutting (`pipe_span_incremental`) — the
    * Lee et al. 2021 intervention as a daily-ingest operation:
    * repeated ≥n-char spans are cut from an ARRIVING batch where
    * "repeated" counts occurrences across (existing corpus ∪ batch),
    * with the corpus side read from the persisted gram index instead
    * of rescanned. Output and semantics are EXACTLY
    * [[spanDedupCore]] over (corpus ∪ batch) restricted to the batch
    * rows — the same oracle regime, hash-verified — so a pipeline
    * can switch between the batch and incremental forms without a
    * semantic diff.
    *
    * Probe shape (all corpus-side touches are map-only scans, the
    * [[probeCorpusKeys]] discipline): the batch's distinct hash set
    * broadcasts against the index (ONE column-pruned, PARTITION-
    * PRUNED scan returning rows ∝ hash matches), candidate positions
    * are the union of index-hash matches and batch-internal hash
    * repeats, raw windows are re-extracted for candidates only and
    * digested, and the cut criterion is batch-occurrences + Σ index
    * df ≥ 2 per raw-window md5 — 64-bit collisions still cannot cut
    * unique text (a false cut now needs a 2⁻¹²⁸ md5 collision).
    * Per-batch cost: O(batch) scan + one index probe that the v4
    * layout PRUNES: the probe joins on (pb, g) where pb is the
    * index's partition column, so DPP drops every partition the
    * batch's gram set does not hash into (dynamicpruningexpression,
    * plan-asserted in PlanSpec) — probe I/O ∝ min(batch grams, P) ×
    * partition size, constant in index size once P exceeds the
    * batch's gram count (the micro-batch regime; a corpus-covering
    * daily shard still reads each partition once, column-pruned).
    * The index never shuffles.
    *
    * REGIME: batch ≪ corpus. The probe broadcasts the batch's
    * distinct hash keys (~8 B per batch character) — the daily-shard
    * and micro-batch shape, same class as [[probeCorpusKeys]]'s band
    * keys but per-position, so a BULK arrival comparable to the
    * corpus outgrows the broadcast budget; at that point the right
    * tool is the batch operator over (corpus ∪ arrival)
    * ([[spanDedupCore]] at the [[Scale]] of the union) — one fat
    * shuffle beats a corpus-sized broadcast, and the incremental
    * index buys nothing when the arrival IS a corpus. */
  private[graft] def spanDedupIncrementalCore(s: SparkSession, indexTable: String,
                                              batch: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = spanBase(batch)
    // doc_id pruned at the scan
    val (idxHot, subs) = incrementalProbe(s, indexTable, base, n, "g", "sh", "df")
    val cdf = idxHot.groupBy("sh").agg(sum(col("df")).as("cdf"))
    val hits = subs
      .withColumn("bcnt", count(lit(1)).over(Window.partitionBy("sh")))
      .join(broadcast(cdf), Seq("sh"), "left")
      .filter(col("bcnt") + coalesce(col("cdf"), lit(0L)) >= 2)
      .select("doc_id", "p")
    spanRebuild(base, spanIslands(hits, n))
  }

  /** The incremental cores' one index probe: the batch's gram
    * positions, the index rows whose (pb, g) the batch's grams hit
    * (projected to `idxCols`, cached), and the batch's candidate
    * (doc_id, p, sh) rows — positions whose gram hash matches the
    * index or repeats within the batch, each with its raw window's
    * 128-bit md5. Returns (index rows, candidates). */
  private def incrementalProbe(s: SparkSession, indexTable: String, base: DataFrame,
                               n: Int, idxCols: String*): (DataFrame, DataFrame) = {
    val pos = gramPositions(base, n)
      .cacheTracked // feeds the probe key set, both candidate branches, and the batch count
    // recover first — a crashed forget must never present a
    // half-swapped index; then read the layout's partition count
    StagedRewrite.recover(s, indexTable)
    val p = spanIndexPb(s, indexTable)
    // probe keys carry the PARTITION column: joining on (pb, g) lets
    // DPP prune index partitions the batch's grams don't hash into.
    // The between() is the partition-key domain guard (pmod is always
    // in [0, P)) — and it is ALSO what lets the optimizer insert the
    // pruning subquery: pos is cache-tracked, so the batch scan's own
    // selective filters sit behind an InMemoryRelation where DPP's
    // selectivity check cannot see them; this visible filter on the
    // key itself restores the signal (plan-asserted in PlanSpec)
    // the distinct gram frame is computed ONCE (gram-sized cache) and
    // shared between the (pb, g) probe keys and the inline-filter
    // collect (ADVICE r18: probeIndexScan used to re-aggregate it)
    val batchGrams = pos.select("g").distinct().cacheTracked
    val batchG = withPb(batchGrams, p)
      .filter(col("pb").between(lit(0), lit(p - 1)))
    // the ONE index touch: batch hash keys broadcast, matching index
    // rows come back (∝ duplicated batch text + collisions); micro
    // probes additionally inline the gram set as a pushed filter so
    // row-group stats skip inside the DPP-surviving partitions
    val idxHot = probeIndexScan(s, indexTable, batchGrams)
      .join(broadcast(batchG), Seq("pb", "g"))
      .select(idxCols.map(col): _*)
      .cacheTracked
    val candIdx = pos.join(broadcast(idxHot.select("g").distinct()), Seq("g"), "left_semi")
    val repB = pos.groupBy("g").agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") >= 2).select("g")
    val candB = pos.join(repB, Seq("g"), "left_semi")
    val candPos = candIdx.select("doc_id", "p")
      .union(candB.select("doc_id", "p")).distinct()
    // batch-side confirmation key: the raw window's md5, for both the
    // within-batch count and the corpus lookup (the index stores
    // digests, which separate 64-bit hash collisions at 2⁻¹²⁸; the
    // raw window is projected away before the shuffle so the
    // hit-sized exchange carries 16-byte keys)
    val subs = subsAt(base, candPos, n)
      .select(col("doc_id"), col("p"), unhex(md5(col("sub"))).as("sh"))
    (idxHot, subs)
  }

  /** Registry entry for [[spanDedupIncrementalCore]]: the shard
    * (doc_id % 10 == 0) arrives against the index over everything
    * else; certified projection identical to [[pipeSpanDedup]]. */
  def pipeSpanIncremental(s: SparkSession, dir: String, n: Int = 50): DataFrame =
    certified(spanDedupIncrementalCore(s, spanGramIndexFor(s, dir, n),
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")), n))

  /** KEEP-FIRST incremental span cutting
    * (`pipe_span_keep_first_incremental`) — the fourth cell of the
    * batch/incremental × remove-all/keep-first matrix: the arriving
    * batch is cut under the paper's keep-one-occurrence rule where
    * keeper = the lexicographic (doc_id, p) argmin across (existing
    * corpus ∪ batch). The corpus side's argmin candidate comes from
    * the index's per-doc `mp` column (each doc's min position IS its
    * best candidate), so keeper election needs no corpus rescan;
    * keeper protection remains PER-DOC (a corpus keeper protects its
    * own doc — not being cut here — so corpus-present windows simply
    * have no protected batch occurrence unless a batch occurrence is
    * the global first). Output EXACTLY equals
    * [[spanDedupKeepFirstCore]] over (corpus ∪ batch) restricted to
    * the batch rows — spec-asserted, shared-oracle hash-verified.
    * Same probe shape and regime as [[spanDedupIncrementalCore]]. */
  private[graft] def spanDedupKeepFirstIncrementalCore(
      s: SparkSession, indexTable: String, batch: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = spanBase(batch)
    // every index column: doc_id and mp elect the corpus-side keeper
    val (idxHot, subs) =
      incrementalProbe(s, indexTable, base, n, "pb", "g", "doc_id", "sh", "df", "mp")
    // per raw-window digest: corpus occurrence total + the corpus-side
    // argmin candidate (envelope-guarded like the batch side)
    val cstat = idxHot
      .withColumn("cpacked", packedGuarded(col("doc_id"), col("mp")))
      .groupBy("sh")
      .agg(sum(col("df")).as("cdf"), min(col("cpacked")).as("cminPacked"))
    val wSub = Window.partitionBy("sh")
    val hits = subs
      .withColumn("packed", packedGuarded(col("doc_id"), col("p")))
      .withColumn("bcnt", count(lit(1)).over(wSub))
      .withColumn("bminPacked", min(col("packed")).over(wSub))
      .join(broadcast(cstat), Seq("sh"), "left")
      .filter(col("bcnt") + coalesce(col("cdf"), lit(0L)) >= 2)
      .withColumn("keeper", col("packed") ===
        least(col("bminPacked"), coalesce(col("cminPacked"), lit(Long.MaxValue))))
      .select(col("doc_id"), col("p"), col("keeper"))
    spanRebuild(base, spanKeepFirstSweep(hits, n))
  }

  /** Registry entry for [[spanDedupKeepFirstIncrementalCore]] — the
    * shard arrives against the index over everything else; certified
    * projection identical to [[pipeSpanDedupKeepFirst]]. */
  def pipeSpanKeepFirstIncremental(s: SparkSession, dir: String, n: Int = 50): DataFrame =
    certified(spanDedupKeepFirstIncrementalCore(s, spanGramIndexFor(s, dir, n),
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")), n))

  /** Approximate-dedup quality evaluation (`dedup_eval`) — the
    * measurement a production rollout of MinHash-LSH needs before
    * trusting it at 100 TB: run the estimator ([[dedupMinhashLsh]])
    * and the exact truth ([[dedupNgramJaccard]], PPJoin-pruned) on
    * the SAME gram size and threshold, and report pair-level
    * precision/recall of the approximation. One summary row:
    * n_true / n_pred / n_hit (pred ∩ truth) and the two ratios.
    *
    * At full scale the truth side is the expensive one — the
    * standard methodology runs this eval on a held-out SAMPLE and
    * applies the measured operating point corpus-wide; the operator
    * takes whatever `dir` it is pointed at. The final crossJoins are
    * one-row scalar attaches (the documented shape), not data joins. */
  def dedupEval(s: SparkSession, dir: String, n: Int = 9, tau: Double = 0.8): DataFrame = {
    val truth = dedupNgramJaccard(s, dir, n, tau).select("id_a", "id_b").cacheTracked
    val pred = dedupMinhashLsh(s, dir, n = n, tau = tau).select("id_a", "id_b").cacheTracked
    val hit = pred.join(truth, Seq("id_a", "id_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(pred.agg(count(lit(1)).as("n_pred")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_pred"), col("n_hit"),
        round(when(col("n_pred") === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_pred").cast("double")), 4)
          .as("precision"),
        round(when(col("n_true") === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_true").cast("double")), 4)
          .as("recall"))
  }

  /** [[dedupClusters]] with QUALITY-RANKED survivor selection — the
    * canonical-document step a production dedup actually ends with:
    * within each near-dup cluster keep the best member (here: most
    * words, ties → lowest doc_id), not merely the lowest id. The
    * min-id convention answers "which rows collapse"; this answers
    * "which copy do we train on" — e.g. the un-truncated variant of a
    * boilerplate-wrapped page. Costs one extra (cluster_id)-keyed
    * window over the labeled corpus; clusters are near-dup-sized
    * (bounded), so the per-partition window state is tiny and the
    * shape holds at 100 TB. */
  def dedupKeepBest(s: SparkSession, dir: String, n: Int = 12, tau: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = dedupClusters(s, dir, n, tau).select("doc_id", "cluster_id")
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), regexp_count(col("text"), lit("\\S+")).cast("long").as("n_words"))
    labeled.join(words, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("n_words").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("n_words"), (col("rk") === 1).as("keep"))
      .orderBy("doc_id")
  }

  // --- embedding near-dup --------------------------------------------

  /** Embedding-cosine nearest neighbor per vector (is_dup flags pairs
    * at/above tau). EXACT all-pairs search, distributed as a blocked
    * self-join: the corpus is grouped into `nBlocks` chunk rows
    * (block → array<struct<id, v, nrm>>), each query row is
    * replicated once per block through a shuffled equi-join (never a
    * driver collect or broadcast of the corpus), and a JIT'd
    * primitive loop scans each (query, chunk) pair keeping the
    * per-block argmax; a final window picks the global argmax from
    * the nBlocks candidates per query. Shuffle volume: corpus once
    * (chunking) + queries × nBlocks — no O(n²) rows materialize.
    * Exact NN is inherently quadratic COMPUTE; the sub-quadratic
    * scale path is the LSH/IVF family in [[Similarity]]. */
  /** The embeddings table as (id, v) with double-precision vectors —
    * the unadorned corpus every embedding-dedup operator runs over by
    * default. */
  private[graft] def baseEmbeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))

  /** The embeddings corpus plus deterministically-perturbed copies of
    * the first `nPlant` vectors (id + plantOffset, x_i + eps·u_i with
    * u_i = ((id·64+i)·2654435761 mod 2001 − 1000)/1000, an integer-hash
    * ramp both engines recompute bit-identically). The synthetic table
    * has no real near-dups (measured max pairwise cosine 0.60 at
    * sf0.1), so the planted copies land at cosine ≈0.9956–0.997 —
    * the regime a production τ=0.9 near-dup pass actually targets —
    * while every unplanted pair stays below ~0.68. BENCH/ORACLE GROUND
    * TRUTH ONLY: operators take it via an explicit `augmentPlanted`
    * opt-in (the registry and specs set it; the default is the real
    * corpus, so a production caller never sees phantom pairs against
    * vectors that don't exist in their data).
    *
    * The `pmod(id, 2^20)` inside the ramp is overflow armor, not
    * semantics: it is an identity for every real input (id < nPlant ≤
    * 2^20, so the oracle SQL — which has no pmod — is unchanged), but
    * keeps the multiply inside a long when the expression is evaluated
    * speculatively on LARGE ids. That happens in practice: a downstream
    * join's inferred `isnotnull(cell)` constraint is pushed through the
    * union into this branch, and FilterExec evaluates null-intolerant
    * predicates BEFORE the `id < nPlant` conjunct — at replica-scale
    * ids (~9·10⁸) the unguarded ramp overflowed ANSI long arithmetic
    * and killed the job (found on the 10× set, round 8). */
  private[graft] def augmentedEmbeddings(s: SparkSession, dir: String,
      nPlant: Int = 64, eps: Double = 0.02, plantOffset: Long = 1000000L): DataFrame = {
    val base = baseEmbeddings(s, dir)
    val planted = base.filter(col("id") < nPlant)
      .select((col("id") + plantOffset).as("id"),
        expr(s"transform(v, (x, i) -> x + $eps * ((((pmod(id, 1048576) * 64 + i) * 2654435761) % 2001) - 1000) / 1000.0)").as("v"))
    base.union(planted)
  }

  /** Scale-path embedding near-dup: all pairs at cosine ≥ τ through
    * sign-LSH bucketed candidates + the codegen'd exact-cosine verify —
    * the sub-quadratic DEFAULT for τ-threshold near-dup at 100 TB,
    * with blocked-exact [[dedupEmbedding]] kept as the oracle-scale
    * twin. Candidates: hyperplane sign bits (plane count adaptive to
    * corpus size — see below) → one narrow (id, bucket) row per
    * vector, plus a MARGIN-GUIDED multi-probe set
    * ([[Similarity.lshProbeBuckets]]): each vector probes the 22
    * buckets reached by flipping ≤2 of its 6 lowest-|margin| planes —
    * the planes a true neighbor can actually sit across. Probe volume
    * is constant in the plane count, so occupancy and fan-out BOTH
    * stay flat as the corpus grows. Measured over the exact splitmix
    * plane family: candidate recall is 1.0 vs the all-pairs scan at
    * sf0.001/0.01/0.1 (spec + DuckDB hash oracle) and 1.0 on the
    * planted ground truth at the 10× replica scale. Verification is
    * exact cosine on candidates only — the probe set prunes, never
    * scores. Shuffle volume: corpus once for bucketing, (id, bucket)
    * probe join, two id-keyed array fetches for the survivors — the
    * corpus bodies never join all-pairs.
    *
    * `augmentPlanted` injects the deterministic planted near-dup
    * family of [[augmentedEmbeddings]] — ground-truth plumbing for the
    * oracle/bench registry and the recall specs ONLY. The default is
    * the real corpus: a production caller gets pairs among their own
    * vectors, never phantom pairs against synthesized ids. */
  def dedupEmbeddingAnn(s: SparkSession, dir: String, tau: Double = 0.9,
      numPlanes: Int = 0, augmentPlanted: Boolean = false): DataFrame = {
    val all = if (augmentPlanted) augmentedEmbeddings(s, dir) else baseEmbeddings(s, dir)
    // numPlanes <= 0 → corpus-count-adaptive: hold expected bucket
    // occupancy ~2 so within-bucket candidate pairs stay LINEAR in
    // corpus size (fixed planes made occupancy — and the candidate
    // join — grow quadratically: measured 1.1 s → 21.3 s across one
    // data decade before this). ceil(log2(n/2)) resolves to exactly
    // the oracle-verified 12 planes at all three driver SFs; extra
    // planes only engage beyond them, where correctness is covered by
    // the planted-pair ground truth instead of the all-pairs oracle.
    val nP =
      if (numPlanes > 0) numPlanes
      else {
        val n = Tables.rowCount(s, dir, "embeddings") + (if (augmentPlanted) 64 else 0)
        math.max(12, math.ceil(math.log(n / 2.0) / math.log(2.0)).toInt)
      }
    val planes = Similarity.hyperplanes(nP, 64)
    val ids = all
      .withColumn("bucket", Similarity.lshBucket(col("v"), planes))
      .select("id", "bucket")
    // margin-guided probe set: constant 22 buckets per vector (flip=6)
    // regardless of plane count — a pair is a candidate when EITHER
    // endpoint's probe set reaches the other's home bucket
    val probes = all
      .select(col("id").as("id_a"),
        explode(Similarity.lshProbeBuckets(col("v"), planes, flip = 6)).as("bucket"))
    // margin-guided probes are ASYMMETRIC (each vector flips ITS OWN
    // low-margin planes), so both directions must survive to the pair
    // normalization — an id_a < id_b filter before it would silently
    // drop pairs only the larger id's probes reach
    val cands = probes
      .join(ids.select(col("id").as("id_b"), col("bucket")), Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    cands
      .join(all.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(all.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cosine",
        round(graft.functions.VectorFunctions.cosine_similarity(col("va"), col("vb")), 4))
      .filter(col("cosine") >= tau)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * data-efficient learning at web-scale through semantic
    * deduplication"): quantize every embedding to its IVF cell against
    * the frozen offline [[IvfCodebook]] — the SAME argmax-centroid-
    * cosine assignment as [[Similarity.simIvfAnn]], so the oracle
    * replays it bit-for-bit — then compare pairs ONLY within a cell
    * and drop every member with a LOWER-id within-cell neighbor at
    * cosine ≥ τ (the paper keeps one representative per semantic
    * cluster; lowest id is the deterministic choice). Work is
    * Σ_cells n_c² instead of n²: nlist is the scale lever — grow it
    * ~√n (re-fit offline, as [[graft.tools.FitIvfCodebook]] does) and
    * balanced cells hold the compare volume near n^1.5 while the
    * assignment stays one map-only codegen'd scan. The corpus
    * shuffles exactly once, on the cell id; no all-pairs join exists
    * at any scale.
    *
    * `augmentPlanted` injects the same planted near-dup family as
    * [[dedupEmbeddingAnn]]'s opt-in (the registry/spec ground truth
    * that makes the drop set non-trivial at every SF; note the exact
    * [[dedupEmbedding]] runs UNAUGMENTED — the planted family belongs
    * to the ANN/semantic oracle plumbing only). Default is the real
    * corpus: production callers never see synthesized ids. */
  def dedupSemantic(s: SparkSession, dir: String, tau: Double = 0.9,
                    codebook: Array[Array[Double]] = IvfCodebook.centroids,
                    augmentPlanted: Boolean = false): DataFrame = {
    val assigned = (if (augmentPlanted) augmentedEmbeddings(s, dir) else baseEmbeddings(s, dir))
      .withColumn("cell", Similarity.ivfCell(col("v"), codebook))
    val a = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
    val b = assigned.select(col("cell"), col("id").as("id_b"), col("v").as("vb"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.functions.VectorFunctions.cosine_similarity(col("va"), col("vb")), 4)
        >= tau)
      .select(col("id_b").as("id"))
      .distinct()
    assigned
      .join(drops.withColumn("is_dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell").cast("long").as("cell"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
      .orderBy("id")
  }

  /** Cross-corpus embedding decontamination: every training-corpus
    * vector within cosine τ of ANY reference-set vector (eval
    * benchmarks, held-out suites) — the embedding-level counterpart of
    * [[graft.operators.TextAnalysis.pipeDecontaminate]]. The
    * reference side here is the planted perturbation family (the same
    * deterministic construction as [[augmentedEmbeddings]]) so the
    * τ=0.9 regime is non-vacuous and the DuckDB all-pairs oracle can
    * recompute it bit-identically.
    *
    * Scale shape (the asymmetry is the point): the CORPUS side is
    * bucketed once, map-only, one narrow (id, bucket) row per vector —
    * it never explodes, never multi-probes. Only the SMALL reference
    * side fans out — over the COMPLETE Hamming-≤2 ball of its bucket
    * (1 + nP + C(nP,2) = 79 literal XOR masks at nP=12; the reference
    * side is constant-size, so exhaustive beats clever here).
    * Margin-guided probing (the two-sided ANN's trick) is NOT enough
    * one-sided: round 8's regenerated corpus produced a true pair at
    * bucket Hamming distance 1 whose crossed plane ranked outside the
    * reference's 6 lowest |margins| — missed, 63/64 rows. The full
    * ball makes every ≤2-plane-sign difference a guaranteed
    * candidate; only Hamming-≥3 pairs escape the prune (an eps=0.02
    * perturbation crossing 3 of 12 planes — measured zero escapes at
    * sf0.001/0.01/0.1 and the 10× replica). Candidates join on
    * bucket, then the codegen'd exact cosine verifies — false
    * candidates cost verify work, never a wrong answer. At 100 TB:
    * corpus cost is one scan + one bucket-keyed join of fixed-width
    * rows; reference cost is constant. */
  def dedupCrossCorpus(s: SparkSession, dir: String, tau: Double = 0.9,
      numPlanes: Int = 12, nPlant: Int = 64, eps: Double = 0.02,
      refOffset: Long = 1000000L): DataFrame = {
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val refs = corpus.filter(col("id") < nPlant)
      .select((col("id") + refOffset).as("ref_id"),
        expr(s"transform(v, (x, i) -> x + $eps * ((((pmod(id, 1048576) * 64 + i) * 2654435761) % 2001) - 1000) / 1000.0)").as("rv"))
    dedupCrossCorpusRefs(s, dir, refs, tau, numPlanes)
  }

  /** [[dedupCrossCorpus]] against a CALLER-SUPPLIED reference set —
    * the production entry point: `refs` is any DataFrame with
    * `ref_id: long, rv: array<double>` (an eval benchmark's
    * embeddings, a held-out suite). The planted construction above
    * remains the registry/oracle default only; the decontamination
    * machinery itself (corpus bucketed once map-only, reference side
    * fanned over the complete Hamming-≤2 ball, exact cosine verify)
    * is reference-set-agnostic. */
  def dedupCrossCorpusRefs(s: SparkSession, dir: String, refs: DataFrame,
      tau: Double = 0.9, numPlanes: Int = 12): DataFrame = {
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val planes = Similarity.hyperplanes(numPlanes, 64)
    val cbuck = corpus
      .withColumn("bucket", Similarity.lshBucket(col("v"), planes))
      .select(col("id"), col("bucket"))
    // complete Hamming-≤2 ball: home bucket + every 1- and 2-plane flip
    val masks: Seq[Long] = 0L +:
      ((0 until numPlanes).map(p => 1L << p) ++
        (for (i <- 0 until numPlanes; j <- (i + 1) until numPlanes)
          yield (1L << i) | (1L << j)))
    val rprobes = refs
      .withColumn("rbucket", Similarity.lshBucket(col("rv"), planes))
      .select(col("ref_id"),
        explode(array(masks.map(m => col("rbucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val cands = rprobes.join(cbuck, Seq("bucket"))
      .select("id", "ref_id").distinct()
    cands
      .join(corpus, "id")
      .join(refs, "ref_id")
      .withColumn("cosine",
        round(graft.functions.VectorFunctions.cosine_similarity(col("v"), col("rv")), 4))
      .filter(col("cosine") >= tau)
      .select("id", "ref_id", "cosine")
      .orderBy("id", "ref_id")
  }

  def dedupEmbedding(s: SparkSession, dir: String, tau: Double = 0.9, nBlocks: Int = 16): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val v = Similarity.vectors(s, dir).toDF("id", "v")
      .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
    val blocked = v.groupBy(pmod(col("id"), lit(nBlocks.toLong)).as("block"))
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("chunk"))
    // Query side = the same chunks, each replicated across all blocks:
    // the join yields the nBlocks² (query-chunk, corpus-chunk) pairs
    // of a blocked matrix product, so each row deserializes TWO
    // corpus-fraction arrays — total decode cost O(n·nBlocks), not the
    // O(n²) a per-query-row replication would pay.
    val qrep = blocked.select(col("chunk").as("qchunk"),
      explode(sequence(lit(0L), lit(nBlocks - 1L))).as("block"))
    val outSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("nearest", LongType),
      StructField("cos", DoubleType)))
    def decode(r: Row, ord: Int): Array[(Long, Array[Double], Double)] =
      r.getSeq[Row](ord).map(c =>
        (c.getLong(0), c.getSeq[Double](1).toArray, c.getDouble(2))).toArray
    // shuffle_hash keeps the corpus side out of a BroadcastExchange —
    // the join must stay a partitioned shuffle for the pattern to
    // hold at 100 TB.
    val perPair = qrep.join(blocked.hint("shuffle_hash"), Seq("block"))
      .select("qchunk", "chunk")
      .flatMap { r =>
        val qs = decode(r, 0)
        val cs = decode(r, 1)
        qs.iterator.map { case (qid, qv, qn) =>
          var bestCos = -2.0
          var bestId = Long.MaxValue
          var i = 0
          while (i < cs.length) {
            val (cid, cv, cn) = cs(i)
            if (cid != qid) {
              val cos = Similarity.dotp(qv, cv) / (qn * cn)
              if (cos > bestCos || (cos == bestCos && cid < bestId)) { bestCos = cos; bestId = cid }
            }
            i += 1
          }
          Row(qid, bestId, bestCos)
        }
      }(Encoders.row(outSchema))
    perPair
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id_a")
          .orderBy(col("cos").desc, col("nearest"))))
      .filter(col("rn") === 1)
      .select(col("id_a"), col("nearest"), round(col("cos"), 4).as("cosine"),
        (round(col("cos"), 4) >= tau).as("is_dup"))
      .orderBy("id_a")
  }
}
