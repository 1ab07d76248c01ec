package graft.operators

import graft.Tables
import graft.CacheRegistry.Cacheable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines
  * (SURVEY.md §2.5), over the `documents` table.
  *
  * Everything is built from codegen'd `functions._` expressions (no
  * UDFs), so per-document work stays inside whole-stage codegen and
  * scales embarrassingly parallel — no shuffle at all until an
  * aggregate is requested downstream.
  */
object TextAnalysis {

  /** Word-ish tokens: letter runs, digit runs, single punctuation —
    * a deterministic BPE-ish pre-tokenizer regex (compatible between
    * Java regex and RE2 so the DuckDB oracle can mirror it). */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  val StopwordPattern = "\\b(the|a|an|and|or|of|to|in|is|it)\\b"

  // regexp_count, not size(regexp_extract_all(...)): counting matches
  // must not allocate a per-match array
  private def nWords(c: Column): Column = regexp_count(c, lit("\\S+")).cast("long")

  /** Char/word/token counts per document. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("chars"),
        nWords(col("text")).as("words"),
        regexp_count(col("text"), lit(TokenPattern)).cast("long").as("tokens"))
      .orderBy("doc_id")

  /** Count of characters matching a single-char class, via delete +
    * length delta — one regexp pass, no per-character array (the
    * regexp_extract_all formulation allocated a one-element list per
    * matched char; ~5× slower on full materialization). */
  private def charCount(c: Column, cls: String): Column =
    (length(c) - length(regexp_replace(c, cls, ""))).cast("double")

  /** Quality ratios: alpha, punctuation, stopword density. */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        round(charCount(col("text"), "[A-Za-z]") /
          greatest(length(col("text")), lit(1)), 4).as("alpha_ratio"),
        round(charCount(col("text"), "[.,;:!?]") /
          greatest(length(col("text")), lit(1)), 4).as("punct_ratio"),
        round(regexp_count(lower(col("text")), lit(StopwordPattern)).cast("double") /
          greatest(nWords(col("text")), lit(1)), 4).as("stop_ratio"))
      .orderBy("doc_id")

  /** Unrounded quality-signal columns for any frame with `doc_id` /
    * `lang` / `text` — the shared feature block behind [[textQuality]],
    * [[pipeQualityFilter]] and the model-based `pipe_ml_filter`
    * (SparkEntry). Map-only codegen'd expressions; `words` is long (an
    * accepted ML feature type), ratios are double. */
  def qualityFeatures(df: DataFrame): DataFrame =
    df.select(
      col("doc_id"), col("lang"),
      nWords(col("text")).as("words"),
      (charCount(col("text"), "[A-Za-z]") /
        greatest(length(col("text")), lit(1))).as("alpha_ratio"),
      (charCount(col("text"), "[.,;:!?]") /
        greatest(length(col("text")), lit(1))).as("punct_ratio"),
      (regexp_count(lower(col("text")), lit(StopwordPattern)).cast("double") /
        greatest(nWords(col("text")), lit(1))).as("stop_ratio"))

  /** Language-ID heuristic: score each candidate language by the hit
    * rate of a small profile of characteristic function words /
    * character patterns, pick the argmax. Map-only; rows-only check
    * (a heuristic has no SQL oracle). */
  val LangProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|is|was|that|with|for)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|mit|ein)\\b",
    "fr" -> "\\b(le|la|les|et|est|que|des|une)\\b",
    "es" -> "\\b(el|la|los|las|es|que|de|una)\\b",
    "zh" -> "[\\u4e00-\\u9fff]")

  /** Adds `lang_pred` (argmax profile score) to any frame with a
    * `text` column. */
  def withLangPred(df: DataFrame): DataFrame = {
    val scored = LangProfiles.foldLeft(df) { case (d, (code, pat)) =>
      d.withColumn(s"score_$code",
        regexp_count(lower(col("text")), lit(pat)).cast("double") /
          greatest(nWords(col("text")), lit(1)))
    }
    val scoreCols = LangProfiles.map { case (code, _) =>
      struct(col(s"score_$code").as("score"), lit(code).as("code"))
    }
    scored
      .withColumn("lang_pred", array_max(array(scoreCols: _*)).getField("code"))
      .drop(LangProfiles.map { case (code, _) => s"score_$code" }: _*)
  }

  def textLangId(s: SparkSession, dir: String): DataFrame =
    withLangPred(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang").as("lang_true"), col("lang_pred"))
      .orderBy("doc_id")

  /** End-to-end quality filter — the canonical LLM-data pipeline
    * step: keep documents passing length + alpha-ratio + stopword
    * gates. Map-only; at 100 TB this is the pre-dedup pass that
    * discards the bulk of raw crawl. */
  def pipeQualityFilter(s: SparkSession, dir: String, minWords: Int = 30,
                        minAlpha: Double = 0.6): DataFrame =
    Tables.documents(s, dir)
      .filter(qualityPassCol(col("text"), minWords, minAlpha))
      .withColumn("words", nWords(col("text")))
      .withColumn("alpha_ratio",
        charCount(col("text"), "[A-Za-z]") / greatest(length(col("text")), lit(1)))
      .select(col("doc_id"), col("words"), round(col("alpha_ratio"), 4).as("alpha_ratio"))
      .orderBy("doc_id")

  /** The quality gate's pass predicate — the SINGLE definition:
    * [[pipeQualityFilter]] filters on it and the fused
    * [[pipeDatasetCard]] aggregates it, so gate and card share one
    * expression BY CONSTRUCTION (a threshold edit reaches both or
    * neither); the card spec's rate-equality assertion is a
    * regression tripwire on top, not the only line of defense. */
  private[graft] def qualityPassCol(text: Column, minWords: Int = 30,
                                    minAlpha: Double = 0.6): Column =
    nWords(text) >= minWords &&
      (charCount(text, "[A-Za-z]") / greatest(length(text), lit(1))) >= minAlpha

  /** The DATASET CARD in one query: the headline numbers a release
    * ships with (doc/word counts, per-language sizes, quality- and
    * Gopher-gate pass rates, exact-duplicate rate, PII incidence),
    * composed from the pipeline operators' OWN column definitions
    * ([[gopherSignals]], [[qualityPassCol]], [[piiContactCol]] over
    * [[piiRawCol]], [[Dedup.dedupExact]]'s (xxhash64, md5) key) —
    * the rates are the real gates' rates by construction, so the
    * card can never drift from what the pipeline actually did.
    *
    * FUSED: one scan computes every per-doc signal, one
    * ROLLUP(lang) aggregate delivers the global scalars and the
    * per-language sizes together (countDistinct on the exact-dup
    * key rides the same aggregate via Spark's Expand rewrite) — the
    * pre-r10 shape paid one full corpus pass per metric family (6
    * passes). The driver-side assembly reads the aggregate's
    * |langs|+1 rows (bounded: languages, not documents). Output
    * (metric, value) rows — the machine-readable card, byte-equal
    * to the multi-pass formulation (same expressions, same
    * HALF_UP(4) rounding). */
  def pipeDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val sig = gopherSignals(Tables.documents(s, dir))
      .withColumn("words", nWords(col("text")))
      .withColumn("qual", qualityPassCol(col("text")))
      .withColumn("pii", piiContactCol(piiRawCol))
      .withColumn("h64", xxhash64(col("text")))
      .withColumn("h128", md5(col("text")))
      .select(col("lang"), col("words"), col("keep"), col("qual"),
        col("pii"), col("h64"), col("h128"))
    val agg = sig.rollup("lang").agg(
      grouping(col("lang")).as("gid"),
      count(lit(1)).cast("double").as("n"),
      sum(col("words")).cast("double").as("tw"),
      avg(col("qual").cast("double")).as("qr"),
      avg(col("keep").cast("double")).as("gr"),
      avg(col("pii").cast("double")).as("pr"),
      // NULL-safe distinct key: md5(NULL text) is NULL and
      // count(DISTINCT ...) would silently DROP those rows (while n
      // counts them), diverging from dedupExact's groupBy — which
      // keeps the all-NULL-text group as ONE key. Coalescing the md5
      // half to a sentinel (never a 32-hex md5) makes both
      // formulations agree by construction; xxhash64 is non-nullable
      // (NULL folds into the seed), so the pair stays one key.
      countDistinct(col("h64"), coalesce(col("h128"), lit(""))).cast("double").as("ndist"))
      .collect() // bounded: one row per language + the total row
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val total = agg.find(r => r.getAs[Number]("gid").intValue == 1).get
    val n = total.getAs[Double]("n")
    val tw = total.getAs[Double]("tw")
    val scalarRows = Seq(
      ("n_docs", n),
      ("total_words", tw),
      ("mean_words", r4(tw / n)),
      ("quality_pass_rate", r4(total.getAs[Double]("qr"))),
      ("gopher_pass_rate", r4(total.getAs[Double]("gr"))),
      ("exact_dup_rate", r4(1.0 - total.getAs[Double]("ndist") / n)),
      ("pii_contact_rate", r4(total.getAs[Double]("pr"))))
    val langRows = agg.filter(r => r.getAs[Number]("gid").intValue == 0).toSeq
      .map { r =>
        val lang = r.getAs[String]("lang")
        (if (lang == null) null else s"docs_lang_$lang", r.getAs[Double]("n"))
      }
    import s.implicits._
    (scalarRows ++ langRows).toDF("metric", "value").orderBy("metric")
  }

  /** Deterministic hash-based train/val/test split — the assignment
    * step every training run starts from. The split key is a 60-bit
    * md5 of the doc id (the engine-portable hash family every dedup
    * oracle uses) mod 100, so membership is a PURE FUNCTION of the
    * document: re-running on a grown corpus never reassigns an
    * existing doc (the property row_number/sample-based splits
    * lack), any engine reproduces it, and the leakage check is an
    * equality join away. Map-only, zero shuffle except the output
    * sort; at 100 TB this is one scan. */
  def pipeSplitTrainVal(s: SparkSession, dir: String,
                        trainPct: Int = 90, valPct: Int = 5): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(concat(doc_id, ':split')), 1, 15), 16, 10) as bigint) % 100")
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  /** Gopher-style composite quality gate (Rae et al. 2021, §A1.1
    * adapted to this corpus's signals) with a per-document REASONS
    * BITMASK — the production filter shape: a drop is never silent,
    * every rejected doc carries which rules it broke, so the dataset
    * card can report per-rule rejection rates and threshold sweeps
    * replay from the persisted mask without rescanning text.
    *
    * Bits: 1 = word count outside [30, 100k]; 2 = mean word length
    * outside [3, 10]; 4 = alpha ratio < 0.8; 8 = stopword ratio
    * < 0.01; 16 = duplicate-word fraction > 0.65; 32 = top-bigram
    * fraction > 0.2. Bits 2 and 32 keep Gopher's published bounds
    * and never fire on the generator corpus (its word lengths and
    * bigram spread sit inside them) — asserted non-vacuous for the
    * others in TextMultimodalSpec. Everything is map-only except the
    * (doc_id, bigram)-keyed partial-aggregated shuffle shared with
    * [[textRepetition]]; thresholds compare UNROUNDED doubles that
    * both engines derive from identical integer counts, so the
    * oracle replays the mask bit-for-bit. */
  def pipeGopherGate(s: SparkSession, dir: String): DataFrame =
    gopherGateFrame(Tables.documents(s, dir))

  /** [[pipeGopherGate]]'s gate over ANY (doc_id, text) frame — the
    * rules are per-document, so the same plan serves the batch
    * corpus and each streaming micro-batch (foreachBatch ingest
    * gating, StreamingSpec); per-doc aggregates confined to a batch
    * equal the global computation. */
  def gopherGateFrame(docs: DataFrame): DataFrame =
    gopherSignals(docs)
      .select(col("doc_id"), col("n_words"), col("reasons"), col("keep"))
      .orderBy("doc_id")

  /** The gate's per-document signal columns APPENDED to the input
    * frame (input columns pass through) — the single source of truth
    * for the Gopher rules, shared by [[gopherGateFrame]] and the
    * fused [[pipeDatasetCard]] scan so the card's `gopher_pass_rate`
    * is BY CONSTRUCTION the rate of the real gate. Unused
    * pass-through columns are pruned by Catalyst, so the standalone
    * gate's plan is unchanged. */
  private[graft] def gopherSignals(docs: DataFrame): DataFrame =
    // one map, zero shuffle: every gate signal is a pure function of
    // its own document — the bigram multiplicity comes from the exact
    // TopBigramCount local-sort kernel instead of an explode +
    // corpus-wide (doc_id, bigram) groupBy + join
    docs
      .withColumn("w", expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("w"))).cast("long"))
      .withColumn("mwl",
        (length(col("text")).cast("double") - charCount(col("text"), "\\s")) /
          greatest(size(col("w")), lit(1)).cast("double"))
      .withColumn("alpha_ratio",
        charCount(col("text"), "[A-Za-z]") /
          greatest(length(col("text")), lit(1)))
      .withColumn("stop_ratio",
        regexp_count(lower(col("text")), lit(StopwordPattern)).cast("double") /
          greatest(size(col("w")), lit(1)))
      .withColumn("n_bigrams", greatest(size(col("w")) - 1, lit(0)).cast("long"))
      .withColumn("max_c", graft.functions.VectorFunctions.top_bigram_count(col("w")))
      .withColumn("dup_word_frac",
        when(col("n_words") === 0, lit(0.0)).otherwise(
          lit(1.0) - col("n_distinct").cast("double") / col("n_words").cast("double")))
      // explicit zero-bigram guard, not bare division + coalesce: a
      // 0/0 throws under ANSI mode (hit by pipe_span_ingest's
      // fully-cut empty documents; raw docs always have >= 2 words)
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0L, lit(0.0)).otherwise(
          col("max_c").cast("double") / col("n_bigrams").cast("double")))
      .withColumn("reasons",
        when(col("n_words") < 30 || col("n_words") > 100000, lit(1L)).otherwise(lit(0L)) +
          when(col("mwl") < 3.0 || col("mwl") > 10.0, lit(2L)).otherwise(lit(0L)) +
          when(col("alpha_ratio") < 0.8, lit(4L)).otherwise(lit(0L)) +
          when(col("stop_ratio") < 0.01, lit(8L)).otherwise(lit(0L)) +
          when(col("dup_word_frac") > 0.65, lit(16L)).otherwise(lit(0L)) +
          when(col("top_bigram_frac") > 0.2, lit(32L)).otherwise(lit(0L)))
      .withColumn("keep", col("reasons") === 0L)

  /** SPAN-CUT INGEST (`pipe_span_ingest`) — the Lee et al. 2021
    * intervention COMPOSED with the quality gate, in gate-after-cut
    * order (the order a real pretraining pipeline runs them):
    * repeated ≥50-char spans are removed first
    * ([[Dedup.spanDedupCore]]), then the Gopher rules score the
    * CLEANED text. The composition is the point: a document whose
    * unique remainder falls below the 30-word floor after cutting is
    * rejected by bit 1 — a consequence invisible when the gate runs
    * on raw text (spec asserts at least one verdict flips vs
    * [[pipeGopherGate]]). One plan: the per-doc cut fold feeds
    * [[gopherSignals]]' map-side rules directly — composition is
    * plan fusion, not materialized stages (the pipe_full_ingest
    * discipline). Cut evidence rides along (never silent), cleaned
    * text certified by md5 as in `pipe_span_dedup`. */
  def pipeSpanIngest(s: SparkSession, dir: String, n: Int = 50): DataFrame = {
    val cleaned = Dedup.spanDedupCore(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), n, Dedup.Scale.of(s, dir))
    gopherSignals(cleaned.withColumn("text", col("clean_text")))
      .select(col("doc_id"), col("is_ascii"), col("n_spans_cut"),
        col("n_chars_cut"), md5(col("clean_text")).as("clean_md5"),
        col("n_words"), col("reasons"), col("keep"))
      .orderBy("doc_id")
  }

  /** PII scrubbing (`pipe_pii_scrub`) — the redaction pass every
    * public-data pipeline runs before training: emails → `<EMAIL>`,
    * IPv4 literals → `<IP>`, counted per document. The synthetic
    * corpus carries no PII, so every 7th document gets a
    * DETERMINISTIC planted contact line (id-derived address and IP —
    * the closed-form-payload trick the multimodal codecs use), making
    * the scrub non-vacuous and the expected output computable by the
    * SQL oracle without regex agreement on anything but the planted
    * forms. All codegen'd `regexp_replace`/`regexp_extract_all` —
    * map-only, one scan at 100 TB. The conservative patterns
    * (explicit charset email, dotted-quad with word bounds) behave
    * identically under Java regex and RE2 on this content; a
    * production deployment would swap in its compliance team's
    * pattern pack, same plan shape. */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** The deterministic PII injection + raw view shared by
    * [[pipePiiScrub]] and the fused [[pipeDatasetCard]] scan (the
    * testdata carries no real PII, so a doc_id-keyed synthetic
    * contact line makes the scrub non-vacuous and oracle-replayable). */
  private[graft] def piiRawCol: Column =
    when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com from 10."), col("doc_id") % 256,
        lit("."), (col("doc_id") * 7) % 256,
        lit("."), col("doc_id") % 200 + 1))
      .otherwise(col("text"))

  private[graft] def piiContactCol(raw: Column): Column =
    (size(regexp_extract_all(raw, lit(EmailRe), lit(0))).cast("long") +
      size(regexp_extract_all(raw, lit(IpRe), lit(0))).cast("long")) > 0

  def pipePiiScrub(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("raw", piiRawCol)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(IpRe), lit(0))).cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(col("raw"), EmailRe, "<EMAIL>"), IpRe, "<IP>"))
          .as("clean_fp"))
      .orderBy("doc_id")

  /** The CAPSTONE composition (`pipe_full_ingest`) — the dataset-card
    * pipeline a user actually runs, chained in ONE plan over the
    * incoming shard (doc_id % 10 = 0, eval ids excluded):
    * PII scrub (planted ground truth, redaction) → span-level dedup
    * of repeated ≥50-char runs on the scrubbed text
    * ([[Dedup.spanDedupCore]], the Lee et al. 2021 intervention in
    * the `pipe_span_ingest` cut-before-gate order; gram scope is the
    * FULL corpus — an incoming page's boilerplate repeats against
    * what is already ingested, not just against the rest of its own
    * 10% shard, so a shard-local count would miss most real cuts) →
    * quality gate on the CUT text → eval-set decontamination
    * (20-gram overlap,
    * [[pipeDecontaminate]]) → corpus dedup probes (exact 192-bit +
    * minhash band collision, [[Dedup.dedupIncremental]]) →
    * shuffle-pack of the ACCEPTED docs into (shard, bin) manifest
    * slots ([[pipeShufflePack]]'s keyed order), bins sized by the
    * POST-CUT word counts (the tokens that actually train). One row
    * per incoming doc: every gate's verdict, the cut evidence
    * (n_spans_cut / n_chars_cut — never silent), the accept decision,
    * and the pack assignment (−1s when rejected) — end-to-end
    * oracle-checked, so the COMPOSITION (not just each stage) is
    * hash-verified. (A streaming deployment would swap the corpus
    * gram scan for a persisted gram index, the
    * dedupIncrementalPersisted discipline — same probe shape.)
    *
    * Plan shape at 100 TB: each gate is the operator it reuses —
    * map-only scrub/quality, the span cutter's broadcast-probed gram
    * scan with hit-sized windows, broadcast eval-shingle semi-join,
    * broadcast-probed corpus scans — then one window over accepted
    * docs partitioned by pack shard. Nothing new shuffles beyond the
    * cutter's hit-sized streams; the composition is plan fusion, not
    * materialized stages. */
  def pipeFullIngest(s: SparkSession, dir: String, minWords: Int = 30,
                     minAlpha: Double = 0.6, nEval: Long = 10, nShards: Int = 4,
                     seqLen: Int = 256, seed: Int = 42): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    // scrub is deterministic per doc_id, so it can run corpus-wide:
    // the gram count needs every document's scrubbed text, the shard
    // rows are filtered out of the same frame below
    val scrubAll = Tables.documents(s, dir)
      .withColumn("raw", piiRawCol)
      .withColumn("clean",
        regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"), ipRe, "<IP>"))
    val shard = scrubAll
      .filter(col("doc_id") % 10 === 0 && col("doc_id") >= nEval)
      .withColumn("n_pii",
        (size(regexp_extract_all(col("raw"), lit(emailRe), lit(0))) +
          size(regexp_extract_all(col("raw"), lit(ipRe), lit(0)))).cast("long"))
    // cut-before-gate: spans repeated anywhere in the scrubbed CORPUS
    // are removed from the incoming docs, quality signals computed on
    // what survives (the inner join below keeps shard rows only)
    val cut = Dedup.spanDedupCore(
        scrubAll.select(col("doc_id"), col("clean").as("text")), n = 50, Dedup.Scale.of(s, dir))
      .select(col("doc_id"), col("n_spans_cut"), col("n_chars_cut"),
        col("clean_text"))
    val gated = shard.join(cut, Seq("doc_id"))
      .withColumn("words", nWords(col("clean_text")))
      .withColumn("ar", charCount(col("clean_text"), "[A-Za-z]") /
        greatest(length(col("clean_text")), lit(1)))
    val flagged = gated
      .join(pipeDecontaminate(s, dir, nEval = nEval), Seq("doc_id"))
      .join(graft.operators.Dedup.dedupIncremental(s, dir), Seq("doc_id"))
      .withColumn("passed_quality", col("words") >= minWords && col("ar") >= minAlpha)
      .withColumn("accepted", col("passed_quality") && !col("contaminated") &&
        !col("exact_dup") && !col("near_dup"))
    // Pack assignment as ONE window over `flagged` — not the former
    // filter(accepted) + window + join-back, which put `flagged` (and
    // the whole span-cut subtree above it) in the plan TWICE: the
    // pushed `accepted` filter made the twin subtrees non-identical,
    // so ReusedExchange could not fire and every gram exchange /
    // count aggregate ran twice (measured r19: twin 13.7 MB exchanges
    // + twin 4.5 exec-s count stages at sf0.1; guide §2.4). The
    // running sum counts ACCEPTED words only, so at accepted rows it
    // equals the old accepted-only window (rejected rows interleave
    // with a zero contribution and take the −1 sentinels directly) —
    // row-identical output, oracle-verified.
    val w = Window.partitionBy("pack_shard").orderBy("skey", "doc_id")
    flagged
      .withColumn("skey", md5(concat_ws(":", col("doc_id"), lit(seed))))
      .withColumn("pack_shard",
        pmod(conv(substring(col("skey"), 1, 15), 16, 10).cast("long"), lit(nShards.toLong)))
      .withColumn("cum",
        sum(when(col("accepted"), col("words")).otherwise(lit(0L))).over(w))
      .withColumn("pack_bin", floor((col("cum") - col("words")) / seqLen))
      .select(col("doc_id"), col("n_pii"), col("n_spans_cut"),
        col("n_chars_cut"), col("words"),
        round(col("ar"), 4).as("alpha_ratio"),
        col("passed_quality"), col("contaminated"), col("exact_dup"),
        col("near_dup"), col("accepted"),
        when(col("accepted"), col("pack_shard")).otherwise(lit(-1L)).as("pack_shard"),
        when(col("accepted"), col("pack_bin")).otherwise(lit(-1L)).as("pack_bin"))
      .orderBy("doc_id")
  }

  /** Text normalization: lowercase, collapse whitespace runs, strip
    * leading/trailing space — the canonical pre-dedup canonical form.
    * Pure codegen'd expressions, map-only. */
  def textNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm_text"))
      .withColumn("norm_chars", length(col("norm_text")).cast("long"))
      .orderBy("doc_id")

  /** Corpus reporting: per-source document/token/char totals — the
    * dataset card numbers. One partial-aggregated shuffle on source. */
  def pipeCorpusStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        sum(nWords(col("text"))).as("total_words"),
        round(avg(length(col("text"))), 4).as("avg_chars"))
      .orderBy("lang", "source")

  /** 128-bit document fingerprint: MD5 over the collapsed-whitespace
    * lowercase body (codegen'd, shuffle-free). MD5 rather than
    * xxhash64 so the DuckDB oracle can mirror it bit-for-bit; a
    * 64-bit variant for shuffle-key use is `fingerprint64`. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fingerprint"))
      .orderBy("doc_id")

  /** 64-bit fingerprint (xxhash64 of the normalized body) — the form a
    * dedup shuffle key would use; engine-specific, so spec-checked
    * rather than oracle-checked. */
  def fingerprint64(textCol: Column): Column =
    xxhash64(regexp_replace(lower(textCol), "\\s+", " "))

  /** Winnowing fingerprints (the MOSS scheme): the minimum rolling
    * n-gram hash inside each window of `w` consecutive positions,
    * deduplicated — guarantees any shared substring of length
    * >= n + w - 1 contributes a shared fingerprint, with density
    * ~2/(w+1). Built on the codegen'd `ngram_hashes`; pure map-side
    * array expressions (hash-valued output → spec-checked, not
    * oracle-checked). */
  def winnowFingerprints(textCol: Column, n: Int = 8, w: Int = 4): Column =
    winnowSelectMinima(
      graft.functions.VectorFunctions.ngram_hashes(lower(textCol), n), w)

  /** The winnow SELECTION step alone: distinct window-of-`w` minima
    * over an n-gram hash array, as the codegen'd monotonic-deque
    * kernel [[graft.functions.WinnowMinima]] (one O(m) pass). The
    * first formulation — `transform(sequence(...), i ->
    * array_min(slice(hs, i+1, w)))` with `hs` a Scala `val` — had two
    * compounding traps: a `val` only aliases the expression SUBTREE,
    * so the whole hash pass re-evaluated inside the window lambda
    * body (O(positions²) per document — a >600 s single-task stall at
    * sf0.1), and even with the hash array bound in its own
    * projection, the interpreted per-window slice/min step still held
    * `text_winnow` at 1.8 s. The kernel form makes both moot: every
    * argument evaluates once, 0.87 s end to end — the single-task
    * md5 pass itself (1.45M window digests at sf0.1). */
  def winnowSelectMinima(hs: Column, w: Int = 4): Column =
    graft.functions.VectorFunctions.winnow_minima(hs, w)

  /** The HOF reference formulation of [[winnowSelectMinima]] — kept
    * (like [[Dedup.minhashAggs]]) as the independent twin the
    * property spec pins the kernel against. */
  private[graft] def winnowSelectMinimaHof(hs: Column, w: Int = 4): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(hs) - w, lit(0))),
      i => array_min(slice(hs, i + lit(1), lit(w)))))

  /** Winnowing on the oracle-reproducible md5-60 hash family: the
    * identical window-minimum scheme as [[winnowFingerprints]], but
    * each position's n-gram hash is the 60-bit md5 prefix DuckDB
    * recomputes bit-for-bit (`('0x'||substr(md5(x),1,15))::BIGINT`) —
    * turning winnowing from spec-only into a hash-verified query. The
    * rolling-hash form stays the production hot path (one O(len)
    * rolling pass vs O(len·n) md5 slicing); this twin exists so the
    * SCHEME (window minima, then distinct) is oracle-checked end to
    * end. Takes the hash array from the codegen'd
    * [[graft.functions.Md5NgramHashes]] kernel (one O(len) pass, a
    * reused digest — the HOF-chain formulation it replaced was both
    * interpreted and body-re-evaluated) and selects through
    * [[winnowSelectMinima]]. */
  def winnowFingerprintsMd5(hs: Column, w: Int = 4): Column =
    winnowSelectMinima(hs, w)

  /** `text_winnow`: per-document winnowing-fingerprint projection
    * (count / min / max of the distinct selected fingerprints) on the
    * md5-60 family — the oracle-checkable face of the winnow scheme,
    * both steps through codegen'd kernels. Map-only; at 100 TB the
    * fingerprint arrays never shuffle (a plagiarism-index consumer
    * would explode + groupBy fingerprint, which shuffles fixed-width
    * longs only). */
  def textWinnow(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), winnowFingerprintsMd5(
        graft.functions.VectorFunctions.md5_ngram_hashes(lower(col("text")), 8)).as("fps"))
      .select(
        col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy("doc_id")

  /** Real subword tokenization — the highest-frequency LLM-pipeline
    * primitive: BPE encode of every document against the frozen
    * offline-fit [[graft.functions.BpeVocab]] (maximal-munch against
    * merge-derived units; unknown chars → UNK = −1), via the
    * codegen'd [[graft.functions.BpeTokenIds]] kernel. Replaces the
    * regex token APPROXIMATIONS (`text_stats` counts words, this
    * counts model tokens — the unit training budgets are priced in).
    * Per-doc outputs are order-pinning aggregates of the id sequence
    * (the positional checksum fixes the full token stream, so the
    * DuckDB oracle — which replays maximal munch with a recursive
    * CTE over the same inlined vocab — certifies sequence equality,
    * not just counts). Map-only, one fused loop per document, no
    * shuffle; at 100 TB this is exactly the shape a tokenize-and-
    * count pass over a corpus must have. */
  def pipeTokenize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.bpe_token_ids(lower(col("text"))).as("ids"))
      .select(
        col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        size(filter(col("ids"), _ === -1)).cast("long").as("n_unk"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x.cast("long")).as("sum_ids"),
        // Σ (1-based position) · id — pins order, not just the multiset
        aggregate(transform(col("ids"),
            (x, i) => (i.cast("long") + 1L) * x.cast("long")),
          lit(0L), (a, x) => a + x).as("checksum"))
      .orderBy("doc_id")

  /** Unigram-LM quality score: mean log10 unigram probability of each
    * document under the corpus's own unigram distribution — the
    * classic LM-filter signal (low score = gibberish / boilerplate).
    * The raw token stream is collapsed to per-(doc, token) counts
    * FIRST (map-side-combined shuffle, the wordcount plan), so the
    * frequency join and both downstream aggregates see one row per
    * distinct (doc, token) — smaller than the token stream by the
    * per-doc duplication factor, which is exactly the data natural
    * language repeats. The compact table feeds three consumers
    * (frequencies, grand total, the join) and is cached; Spark
    * broadcasts the frequency table while the vocabulary is bounded
    * and falls back to a shuffle join on the token key beyond that —
    * both map straight onto 100 TB. */
  def pipeLmScore(s: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), '\\\\s+'), t -> t != '')")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    // docTok is NOT cached: profiled in round 5 (sf0.1), the
    // string-keyed cache costs more than the two rebuilds it saves
    // (1.31 s cached vs 1.03 s rebuilt). The corpus is scanned twice
    // (freqs, join); the grand total derives from the vocab-sized
    // freqs table instead of a third corpus pass. freqs IS cached —
    // it is vocabulary-sized, feeds both the total and the join, and
    // Spark broadcasts it while it fits (shuffle join beyond — no
    // forced hint, so a 100 TB vocabulary can't OOM the driver).
    val freqs = docTok.groupBy("t").agg(sum("c").as("tf")).cacheTracked
    val total = freqs.agg(sum("tf").as("total"))
    docTok.join(freqs, "t").crossJoin(total)
      .groupBy("doc_id", "total")
      .agg(sum("c").as("n_tok"), sum(col("c") * log10(col("tf"))).as("slt"))
      .select(col("doc_id"), col("n_tok"),
        round(col("slt") / col("n_tok") - log10(col("total")), 4).as("lm_score"))
      .orderBy("doc_id")
  }

  /** Interpolated BIGRAM-LM quality score (`pipe_lm_bigram`) — the
    * CCNet-class signal the unigram form above approximates: per-doc
    * mean log10 of λ·P(w|prev) + (1−λ)·P(w) under the corpus's own
    * counts, where P(w|prev) = C(prev,w) / Σᵥ C(prev,v) (the proper
    * conditional — the denominator is derived from the bigram table,
    * not the unigram count, so final-token occurrences never inflate
    * it) and P(w) = C(w)/T. Low score = token sequences the corpus
    * never produces (scrambled/boilerplate/degenerate text); the
    * unigram interpolation floor keeps unseen bigrams finite, the
    * standard Jelinek-Mercer smoothing shape.
    *
    * Plan shape at 100 TB: bigram extraction is MAP-ONLY — the pair
    * stream comes from zipping each document's in-row token array
    * with its own tail (no positional self-join, no explode-then-lag
    * window), then collapses straight to per-(doc, prev, w) counts
    * (map-side-combined wordcount shuffle, rows ∝ distinct pairs per
    * doc). Model tables are all vocabulary-sized aggregates of that
    * compact stream: C(prev,w), its per-prev rollup, and the unigram
    * table from a second corpus scan (same deliberate two-scan choice
    * as [[pipeLmScore]] — profiled there, the doc-level string-keyed
    * cache costs more than the rebuild). Spark broadcasts the model
    * tables while they fit and falls back to shuffle joins on the
    * token keys beyond — nothing in the plan grows with corpus size
    * except the two scans and the pair-count shuffle.
    *
    * λ weights are written as the literal doubles 0.7/0.3 on BOTH
    * engines (computing 1−λ at runtime yields a DIFFERENT double
    * than the 0.3 literal the oracle parses — a round(4) boundary
    * hazard, not a cosmetic one). Docs with < 2 tokens have no
    * bigram positions and are absent from the output on both sides. */
  def lmBigramCore(docs: DataFrame): DataFrame = {
    import graft.CacheRegistry.Cacheable
    val words = docs
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("w"))
    val docBig = words.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("p"), b.as("t")))).as("b"))
      .select(col("doc_id"), col("b.p").as("p"), col("b.t").as("t"))
      .groupBy("doc_id", "p", "t").agg(count(lit(1)).as("c"))
    val bigFreqs = docBig.groupBy("p", "t").agg(sum("c").as("cb")).cacheTracked
    val prevTot = bigFreqs.groupBy("p").agg(sum("cb").as("cp"))
    val uniFreqs = words.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("tf")).cacheTracked
    val total = uniFreqs.agg(sum("tf").as("total"))
    docBig.join(bigFreqs, Seq("p", "t")).join(prevTot, Seq("p"))
      .join(uniFreqs, Seq("t")).crossJoin(total)
      .groupBy("doc_id", "total")
      .agg(sum("c").as("n_big"),
        sum(col("c") * log10(lit(0.7) * (col("cb") / col("cp")) +
          lit(0.3) * (col("tf") / col("total")))).as("slp"))
      .select(col("doc_id"), col("n_big"),
        round(col("slp") / col("n_big"), 4).as("lmb_score"))
      .orderBy("doc_id")
  }

  /** Registry face of [[lmBigramCore]] over `dir`'s documents. */
  def pipeLmBigram(s: SparkSession, dir: String): DataFrame =
    lmBigramCore(Tables.documents(s, dir))

  /** CCNet head/middle/tail selection buckets (`pipe_lm_buckets`) —
    * the intervention the LM score exists for (Wenzek et al. 2020
    * §4.3): per-language percentile cuts of [[lmBigramCore]]'s score
    * assign each document to `head` (top third — the well-modeled
    * text a pretraining mix keeps at full weight), `middle`, or
    * `tail` (downsample/drop candidates). Exact-threshold docs fall
    * to the LOWER bucket (strict `>`), a deterministic tie rule both
    * engines share.
    *
    * Scale shape: thresholds come from
    * [[Relational.exactPercentiles]] — the q17 distributed-rank
    * kernel (no per-group value buffering, no single-task group
    * sort), emitting one 2-threshold row per language that broadcasts
    * back onto the scored stream for a map-side CASE. Nothing beyond
    * the LM model tables and one language-keyed threshold row grows
    * with the corpus. The scored frame is cached once and feeds both
    * the percentile pass and the final bucketing. Thresholds and
    * scores are the same round(4) doubles on both engines
    * (quantile_cont ≡ the rank-interpolation kernel, the q17
    * contract), so bucket assignment replays exactly. */
  def pipeLmBuckets(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.Cacheable
    val scored = lmBigramCore(Tables.documents(s, dir))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("lmb_score"))
      .cacheTracked
    val th = Relational.exactPercentiles(scored, "lang", "lmb_score",
      Seq((0.3333333333333333, "t_lo"), (0.6666666666666666, "t_hi")))
    scored.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("lmb_score"),
        when(col("lmb_score") > col("t_hi"), lit("head"))
          .when(col("lmb_score") > col("t_lo"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  /** Per-document repetition signals — the Gopher/C4-style repetition
    * filter inputs: duplicate-word fraction and the fraction of word
    * bigrams taken by the single most frequent bigram (boilerplate and
    * degenerate generations score high on both). Word-level numbers
    * are map-only array expressions; the bigram mode needs true
    * per-(doc, bigram) counts, one partial-aggregated shuffle keyed by
    * (doc_id, bigram) — per-doc state never exceeds its distinct
    * bigram count, so this scales like any word-count. */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("w"))
      // every statistic is a pure function of ONE document, so the
      // whole operator is a single map — the former explode +
      // (doc_id, bigram) groupBy + join shuffled the entire corpus to
      // compute per-doc numbers each scan task already held; the
      // TopBigramCount kernel (exact local sort) replaces it
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct_words"),
        greatest(size(col("w")) - 1, lit(0)).cast("long").as("n_bigrams"),
        graft.functions.VectorFunctions.top_bigram_count(col("w")).as("max_c"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          // empty docs are "no repetition", not "all repetition"
        when(col("n_words") === 0, lit(0.0)).otherwise(
          round(lit(1.0) - col("n_distinct_words").cast("double") /
            col("n_words").cast("double"), 4)).as("dup_word_frac"),
        col("n_bigrams"),
        round(coalesce(col("max_c").cast("double") / col("n_bigrams").cast("double"),
          lit(0.0)), 4).as("top_bigram_frac"))
      .orderBy("doc_id")

  /** Per-language corpus vocabulary stats (dataset-card numbers):
    * token count, type (distinct-token) count, hapax legomena count,
    * type/token ratio. One shuffle keyed (lang, token) with map-side
    * combine; the final per-language rollup is |vocabulary|-sized. */
  def textVocabStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        explode(expr("filter(split(lower(text), '\\\\s+'), t -> t != '')")).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 4)
          .as("type_token_ratio"))
      .orderBy("lang")

  /** MERGEABLE heavy-hitters rollup (`pipe_heavy_hitters_rollup`) —
    * the [[pipeSketchRollup]] warehouse pattern for TOP-K ITEMS:
    * per-(lang, source) DataSketches frequent-items partials
    * (`approx_top_k_accumulate`, a fixed-size stored summary per
    * group) are COMBINED per-lang (`approx_top_k_combine`) with the
    * estimate read off the merged sketch — the rollup never
    * re-scans raw text, which is what exact top-k cannot offer
    * (per-item counts don't pre-aggregate into bounded state).
    * Verification contract (the top_bigrams_sketch pattern): per
    * lang the output carries the EXACT k-th token count, and both
    * the DIRECT per-lang sketch and the per-source→combined ROLLUP
    * must return exactly k picks whose TRUE counts are all ≥ that
    * k-th count (tie swaps allowed, misses not); the oracle
    * recomputes the exact side and expects both flags true. */
  /** The whitespace token stream shared by the heavy-hitters contract
    * harness and its production form — ONE definition, so the two can
    * never drift on tokenization. */
  private def hhTokenStream(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("token"))

  /** The ROLLED sketch side: per-(lang, source) frequent-items
    * partials combined per-lang. (lang, top: array<struct<item,count>>). */
  private def hhRolledTop(toks: DataFrame, k: Int, maxTracked: Int): DataFrame =
    toks.groupBy("lang", "source")
      .agg(expr(s"approx_top_k_accumulate(token, $maxTracked)").as("sk"))
      .groupBy("lang")
      .agg(expr(s"approx_top_k_combine(sk, $maxTracked)").as("csk"))
      .select(col("lang"), expr(s"approx_top_k_estimate(csk, $k)").as("top"))

  /** PRODUCTION form of [[pipeHeavyHittersRollup]] — the sketch
    * result alone: per-lang top-k tokens with their sketch-estimated
    * counts, built from per-(lang, source) mergeable partials. This
    * is what a 100 TB pipeline ships: fixed-size sketch state per
    * group, NO corpus-wide exact (lang, token) count — that exact
    * aggregate exists only in the registry CONTRACT HARNESS
    * ([[pipeHeavyHittersRollup]]), which certifies this plan against
    * the truth at test scale. Plan-spec'd: contains no count
    * aggregate and no cached intermediate. */
  def pipeHeavyHittersRollupProd(s: SparkSession, dir: String, k: Int = 5,
                                 maxTracked: Int = 100000): DataFrame =
    hhRolledTop(hhTokenStream(s, dir), k, maxTracked)
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.item").as("token"), col("col.count").as("est_cnt"))
      .orderBy("lang", "rank")

  def pipeHeavyHittersRollup(s: SparkSession, dir: String, k: Int = 5,
                             maxTracked: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = hhTokenStream(s, dir)
    // contract-harness side: the corpus-wide exact count exists ONLY
    // to certify the sketches — production runs the sketch half alone
    // (pipeHeavyHittersRollupProd); vocabulary-bounded, not
    // corpus-bounded, but still the largest cached intermediate in the
    // registry, which is why it stays out of the prod plan
    val exact = toks.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .cacheTracked
    val kth = exact
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("token"))))
      .filter(col("rk") === k)
      .select(col("lang"), col("cnt").as("kth_cnt"))
    def flags(picks: DataFrame, name: String): DataFrame = picks
      .select(col("lang"), explode(col("top")).as("e"))
      .select(col("lang"), col("e.item").as("token"))
      .join(exact, Seq("lang", "token"))
      .groupBy("lang")
      .agg(min("cnt").as("minc"), count(lit(1)).as("np"))
      .join(kth, "lang")
      .select(col("lang"),
        (col("np") === k && col("minc") >= col("kth_cnt")).as(name))
    val direct = flags(
      toks.groupBy("lang").agg(expr(s"approx_top_k(token, $k, $maxTracked)").as("top")),
      "direct_ok")
    val rolled = flags(hhRolledTop(toks, k, maxTracked), "rolled_ok")
    kth.join(direct, "lang").join(rolled, "lang")
      .select("lang", "kth_cnt", "direct_ok", "rolled_ok")
      .orderBy("lang")
  }

  /** MERGEABLE-sketch rollup (`pipe_sketch_rollup`) — the
    * pre-aggregated distinct-count pattern a 100 TB warehouse runs
    * on: per-(lang, source) HLL sketches (Spark 4's Datasketches
    * `hll_sketch_agg`) are the stored partial — kilobytes per
    * group — and any coarser rollup (here per-lang) is a cheap
    * `hll_union_agg` over the partials instead of a re-scan of the
    * raw corpus; exact distinct-counting can't pre-aggregate this
    * way (distincts don't add). Cardinality here is the 12-gram
    * shingle-hash space (≍ corpus volume, the real use).
    * Verification contract (the q15 / top_bigrams_sketch pattern):
    * Spark ALSO computes the exact distinct count and emits
    * `sketch_ok` — both the union-rolled and the directly-built
    * sketch estimate within 10% of exact (union drops the HIP
    * estimator, so the two estimates may differ from each other;
    * both must still be accurate) — and the oracle recomputes the
    * exact side and expects the flags true. */
  /** The raw (lang, source, shingle-hash) stream shared by the
    * HLL contract harness and its production form. */
  private def shingleStream(s: SparkSession, dir: String, n: Int): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        explode(graft.functions.VectorFunctions.ngram_hashes(lower(col("text")), n)).as("sh"))

  /** The per-(lang, source) HLL partial → per-lang union rollup —
    * ONE definition shared by harness and prod form. */
  private def hllUnionRollup(sh: DataFrame): DataFrame =
    sh.groupBy("lang", "source").agg(expr("hll_sketch_agg(sh)").as("sk"))
      .groupBy("lang")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_union"))

  /** PRODUCTION form of [[pipeSketchRollup]] — the union-rolled HLL
    * estimate alone: per-(lang, source) sketches (kilobytes each)
    * unioned per-lang, straight off the RAW shingle stream (HLL
    * updates are idempotent per value, so no pre-distinct is needed —
    * the partials aggregate map-side into fixed-size state, the true
    * bounded-memory path at 100 TB). The corpus-wide exact distinct
    * count lives ONLY in the registry CONTRACT HARNESS
    * ([[pipeSketchRollup]]); a pipeline must ship THIS form, not the
    * harness. Plan-spec'd: no count aggregate, no cache. */
  def pipeSketchRollupProd(s: SparkSession, dir: String, n: Int = 12): DataFrame =
    hllUnionRollup(shingleStream(s, dir, n))
      .select(col("lang"), round(col("est_union"), 4).as("est_union"))
      .orderBy("lang")

  def pipeSketchRollup(s: SparkSession, dir: String, n: Int = 12): DataFrame = {
    // contract harness: certifies the sketch rollup against the exact
    // distinct count — production ships pipeSketchRollupProd (the
    // sketch half alone); the exact side below exists only here.
    // distinct FIRST: HLL updates are idempotent per value, so
    // pre-distincting (lang, source, sh) — a map-side-partial
    // aggregate — leaves every estimate and the exact count
    // unchanged while (a) shrinking all downstream aggregates to the
    // distinct set and (b) killing the Expand the former
    // countDistinct-next-to-hll aggregate planned, which DOUBLED the
    // raw exploded shingle stream through the shuffle (the q46
    // pitfall; measured 4.4 s → 1.1 s at sf0.1). The cache holds the
    // distinct flat rows, not the raw explode.
    val sh = shingleStream(s, dir, n)
      .distinct()
      .cacheTracked
    val unioned = hllUnionRollup(sh)
    val exact = sh.select("lang", "sh").distinct()
      .groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
    val direct = sh.groupBy("lang")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(sh))").as("est_direct"))
      .join(exact, "lang")
    direct.join(unioned, "lang")
      .select(col("lang"), col("exact_distinct"),
        ((abs(col("est_union") - col("exact_distinct")) / col("exact_distinct") <= 0.1) &&
          (abs(col("est_direct") - col("exact_distinct")) / col("exact_distinct") <= 0.1))
          .as("sketch_ok"))
      .orderBy("lang")
  }

  /** Corpus-wide top-k bigrams per language — the n-gram LM /
    * vocabulary-report building block. Bigram counts partial-aggregate
    * map-side; the per-language top-k runs through the typed TopK
    * Aggregator, so only k rows per (partition, lang) reach the final
    * shuffle. */
  /** The (lang, bigram) stream shared by the exact top-k, the sketch
    * contract harness, and the sketch production form — one
    * tokenization definition for all three. */
  private def bigramStream(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("w"))
      .select(col("lang"), explode(expr(
        "if(size(w) >= 2, transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1])), array())")).as("bigram"))

  def textTopBigrams(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg.TopK(k), graft.functions.TopKAgg.inputEncoder)
    val bigrams = bigramStream(s, dir)
    // Ties in counts are broken by a deterministic md5-derived
    // surrogate id — the same 60-bit hash the DuckDB oracle computes,
    // so both engines rank identically. TopK orders (score desc, id
    // asc).
    // cached: feeds both the TopK aggregate and the string join-back —
    // without it the bigram explode + count shuffle runs twice
    val counts = bigrams.groupBy("lang", "bigram").agg(count(lit(1)).as("cnt"))
      .withColumn("bid", expr(Dedup.md5Hash60Sql("bigram")))
      .cacheTracked
    counts.groupBy("lang")
      .agg(topk(col("cnt").cast("double"), col("bid")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.score").cast("long").as("cnt"), col("col.id").as("bid"))
      .join(counts.select(col("lang"), col("bigram"), col("bid")), Seq("lang", "bid"))
      .select("lang", "rank", "bigram", "cnt")
      .orderBy("lang", "rank")
  }

  /** Sketch twin of [[textTopBigrams]] via Spark 4's `approx_top_k`
    * aggregate — the one-pass bounded-memory path for when the exact
    * per-group count table itself is too hot: the sketch tracks
    * `maxTracked` items per group in a fixed-size summary, merged
    * map-side. Verification contract (the q15/q24 sketch pattern):
    * the oracle recomputes the EXACT k-th-largest count per language
    * (`kth_cnt`) and asserts the Spark-computed `sketch_ok` flag —
    * the sketch returned exactly k picks and every pick's TRUE count
    * is ≥ the exact k-th count (tie swaps allowed, misses not). */
  /** PRODUCTION form of [[textTopBigramsSketch]] — the one-pass
    * bounded-memory sketch result alone: per-lang approximate top-k
    * bigrams with sketch-estimated counts. The corpus-wide exact
    * (lang, bigram) count table lives ONLY in the registry CONTRACT
    * HARNESS ([[textTopBigramsSketch]]), which certifies this plan;
    * shipping the harness as the pipeline would pay the exact count
    * the sketch exists to avoid. Plan-spec'd: no count aggregate,
    * no cache. */
  def textTopBigramsSketchProd(s: SparkSession, dir: String, k: Int = 5,
                               maxTracked: Int = 100000): DataFrame =
    bigramStream(s, dir).groupBy("lang")
      .agg(expr(s"approx_top_k(bigram, $k, $maxTracked)").as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.item").as("bigram"), col("col.count").as("est_cnt"))
      .orderBy("lang", "rank")

  def textTopBigramsSketch(s: SparkSession, dir: String, k: Int = 5,
                           maxTracked: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bigrams = bigramStream(s, dir)
    // contract harness: the exact count below certifies the sketch —
    // production ships textTopBigramsSketchProd (the sketch alone)
    val exact = bigrams.groupBy("lang", "bigram").agg(count(lit(1)).as("cnt"))
      .cacheTracked
    val kth = exact
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("bigram"))))
      .filter(col("rk") === k)
      .select(col("lang"), col("cnt").as("kth_cnt"))
    // the certified sketch side IS the production plan — shared
    // construction, so the harness can never certify a drifted twin
    val picks = textTopBigramsSketchProd(s, dir, k, maxTracked)
      .select(col("lang"), col("bigram"))
    val picksTrue = picks.join(exact, Seq("lang", "bigram"))
      .groupBy("lang")
      .agg(min("cnt").as("min_pick_cnt"), count(lit(1)).as("n_picks"))
    kth.join(picksTrue, "lang")
      .select(col("lang"), col("kth_cnt"),
        (col("n_picks") === k && col("min_pick_cnt") >= col("kth_cnt")).as("sketch_ok"))
      .orderBy("lang")
  }

  /** The fixed BM25 demo query set (qid → terms), shared by the
    * operator and the generated oracle SQL so both engines score the
    * identical queries. Terms come from the corpus's generator
    * vocabulary so every query has real postings. */
  val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("hash", "join"),
    1 -> Seq("window", "sort", "merge"),
    2 -> Seq("stream", "batch"),
    3 -> Seq("customer", "query", "filter"),
    4 -> Seq("vector", "scan"))

  /** BM25 top-k full-text retrieval (Robertson–Spärck Jones; the
    * `k1`/`b` Okapi form) for a small fixed query set — the
    * text-search primitive a training-data pipeline uses for
    * targeted corpus probes (eval-leak hunting, topical slicing).
    *
    * Spark-first inverted-list shape WITHOUT materializing an
    * inverted index: one corpus scan tokenizes and keeps per-doc
    * length; the postings shuffle is pre-filtered MAP-SIDE to the
    * query vocabulary (`isin` over a literal set), so what crosses
    * the wire is only the matched postings — at 100 TB the cost is
    * proportional to the query terms' document frequency, not the
    * corpus. Document-frequency and corpus stats are tiny aggregates
    * broadcast back; scoring and the per-query top-k window touch
    * only scored (qid, doc) pairs. Exactly SQL-expressible, so the
    * oracle replays the identical math (ln == log, double division)
    * in DuckDB. */
  def textBm25(s: SparkSession, dir: String, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val vocab = bm25Queries.flatMap(_._2).distinct
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> t != '')").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).cast("double").as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val qt = bm25Queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }.toDF("qid", "term")
    tf.join(broadcast(dft), "term")
      .join(broadcast(qt), "term")
      .crossJoin(broadcast(stats)) // one-row scalar attach
      .withColumn("part",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("qid", "doc_id").agg(sum("part").as("s"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("s").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("qid").cast("long").as("qid"), col("doc_id"),
        round(col("s"), 4).as("score"), col("rank").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** Document-length histogram (dataset-card numbers): fixed 100-char
    * buckets, one partial-aggregated shuffle. */
  def pipeLengthHistogram(s: SparkSession, dir: String, bucketChars: Int = 100): DataFrame =
    Tables.documents(s, dir)
      .groupBy((floor(length(col("text")) / bucketChars) * bucketChars).cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket_lo")

  /** End-to-end pipeline head as ONE query: quality gate → exact
    * dedup → per-(lang, source) corpus stats. Composes three operator
    * families in a single Catalyst plan (two semi-join-shaped filters
    * on doc_id, one partial-aggregated shuffle) — the oracle-checked
    * proof that the stages compose without materialization between
    * them. */
  def pipeEndToEnd(s: SparkSession, dir: String): DataFrame = {
    val kept = pipeQualityFilter(s, dir).select("doc_id")
    val keepers = Dedup.dedupExact(s, dir).select(col("keep_id").as("doc_id"))
    Tables.documents(s, dir)
      .join(kept, "doc_id").join(keepers, "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy("lang", "source")
  }

  /** Benchmark decontamination: flag corpus documents that share any
    * character n-gram (default 20) with an eval/benchmark set — the standard
    * n-gram-collision contamination check run before training. The
    * eval set's shingle hashes are tiny (it's a benchmark, not a
    * corpus), so Spark broadcasts them and the check is a map-side
    * left-semi join over the corpus: 100 TB scans once, shuffles
    * nothing. Here the eval set is the first `nEval` documents,
    * standing in for an external benchmark table. */
  def pipeDecontaminate(s: SparkSession, dir: String, n: Int = 20,
                        nEval: Long = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Shingling via the codegen'd NgramHashes rolling hash: one
    // O(len) pass per document instead of re-slicing + re-hashing n
    // bytes per position (~3x on this stage). The semi-join only
    // needs hash EQUALITY, so the hash family is free to choose.
    def shingles(df: DataFrame) = df.select(
      col("doc_id"),
      explode(graft.functions.VectorFunctions.ngram_hashes(lower(col("text")), n)).as("sh"))
    val evalSh = shingles(docs.filter(col("doc_id") < nEval)).select("sh").distinct()
    val contaminated = shingles(docs.filter(col("doc_id") >= nEval))
      .join(broadcast(evalSh), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") >= nEval)
      .join(contaminated.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  /** GRADED decontamination ([[pipeDecontaminate]]'s boolean flag
    * refined to a per-document contamination FRACTION): the share of
    * a doc's distinct 20-gram shingles that appear anywhere in the
    * eval set, plus the three-way policy a production pipeline
    * applies (`keep` < 5% ≤ `trim` < 50% ≤ `drop`) — a verbatim
    * eval copy and a doc quoting one eval sentence are different
    * problems, and the flag can't tell them apart. Same 100 TB shape
    * as the boolean pass: eval shingles broadcast, corpus scanned
    * once map-side, then one per-doc partial-aggregated count; the
    * policy thresholds compare the unrounded ratio of two exact
    * integer counts, so both engines agree exactly. */
  def pipeContaminationFrac(s: SparkSession, dir: String, n: Int = 20,
                            nEval: Long = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
    def shingles(df: DataFrame) = df.select(
      col("doc_id"),
      explode(array_distinct(
        graft.functions.VectorFunctions.ngram_hashes(lower(col("text")), n))).as("sh"))
    val evalSh = shingles(docs.filter(col("doc_id") < nEval)).select("sh").distinct()
    shingles(docs.filter(col("doc_id") >= nEval))
      .join(broadcast(evalSh.withColumn("hit", lit(1L))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("ratio", col("n_hits").cast("double") / col("n_shingles").cast("double"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        round(col("ratio"), 4).as("frac"),
        when(col("ratio") >= 0.5, "drop").when(col("ratio") >= 0.05, "trim")
          .otherwise("keep").as("action"))
      .orderBy("doc_id")
  }

  /** Scale twin of [[pipeDecontaminate]] for when the eval shingle set
    * is too big to broadcast EXACTLY: a Bloom filter over the eval
    * shingles (KBs per million shingles at 1% FPR, vs 8+ bytes per
    * exact hash) prunes the corpus shingle stream map-side, and the
    * exact semi-join then verifies only the surviving candidates — so
    * Bloom false positives cost a little extra verify work, never a
    * wrong answer. Output (and oracle) are IDENTICAL to the exact
    * formulation.
    *
    * The probe is Spark's own codegen'd `BloomFilterMightContain`
    * (the expression behind AQE's injected runtime filters) over a
    * literal of the serialized filter — no UDF in the hot path. At
    * 100 TB: the filter builds in one tiny aggregate over the eval
    * set, ships with the task binary, and the only shuffle left is
    * the candidate-only distinct. */
  def pipeDecontaminateBloom(s: SparkSession, dir: String, n: Int = 20,
                             nEval: Long = 10, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val docs = Tables.documents(s, dir)
    def shingles(df: DataFrame) = df.select(
      col("doc_id"),
      explode(graft.functions.VectorFunctions.ngram_hashes(lower(col("text")), n)).as("sh"))
    val evalSh = shingles(docs.filter(col("doc_id") < nEval)).select("sh").distinct()
    // offline build step: distributed treeAggregate → a driver-side
    // filter sized to the measured distinct count
    val nDistinct = math.max(evalSh.count(), 1L)
    val bloom = evalSh.stat.bloomFilter("sh", nDistinct, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos); bos.toByteArray
    }
    val mightContain = GraftColumnBridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      GraftColumnBridge.expression(col("sh"))))
    val candidates = shingles(docs.filter(col("doc_id") >= nEval))
      .filter(mightContain)
    val contaminated = candidates
      .join(broadcast(evalSh), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") >= nEval)
      .join(contaminated.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Training-mix sampler: per-language inclusion rates applied via a
    * deterministic hash threshold — `md5_60(doc_id||lang) % 1e6 <
    * rate·1e6`. This is the 100 TB formulation: the rate table
    * broadcasts, selection is map-only (no per-stratum sort or
    * window), proportions concentrate tightly around the rates, and
    * membership is reproducible across engines and reruns (the DuckDB
    * oracle recomputes the same md5-derived hash). Contrast
    * `q23_stratified`, which takes an exact per-stratum count but
    * needs a per-group ordering. */
  def pipeTrainMix(s: SparkSession, dir: String,
                   rates: Map[String, Double] = Map("en" -> 0.25, "de" -> 0.5, "fr" -> 0.5),
                   defaultRate: Double = 1.0): DataFrame = {
    import s.implicits._
    val rateDf = rates.toSeq.toDF("lang", "rate")
    Tables.documents(s, dir)
      .join(broadcast(rateDf), Seq("lang"), "left")
      .withColumn("rate", coalesce(col("rate"), lit(defaultRate)))
      .withColumn("bucket",
        expr(Dedup.md5Hash60Sql("concat(cast(doc_id as string), lang)")) % 1000000L)
      .filter(col("bucket") < col("rate") * 1000000L)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")
  }

  /** Temperature-based language resampling weights — the multilingual
    * training-mix op (mT5/XLM-R style): raw language shares p_l are
    * flattened to q_l ∝ p_l^alpha (alpha < 1 up-samples tail
    * languages), and weight_l = q_l/p_l is the per-document sampling
    * factor a weighted sampler applies. The whole computation is one
    * tiny per-language aggregate plus scalar arithmetic — at 100 TB
    * the aggregate is a partial-combined count per language (5 rows
    * here, a few thousand in practice) and the weights broadcast back
    * to whatever sampler consumes them. */
  def pipeLangSamplingWeights(s: SparkSession, dir: String,
                              alpha: Double = 0.3): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum("n_docs").as("n_total"))
    val flat = counts.crossJoin(total)
      .withColumn("p", col("n_docs") / col("n_total"))
      .withColumn("p_alpha", pow(col("p"), alpha))
    val z = flat.agg(sum("p_alpha").as("z"))
    flat.crossJoin(z)
      .select(col("lang"), col("n_docs"),
        round(col("p"), 6).as("p"),
        round(col("p_alpha") / col("z"), 6).as("q"),
        round(col("p_alpha") / col("z") / col("p"), 6).as("weight"))
      .orderBy("lang")
  }

  /** Deterministic contiguous sequence packing — the pretraining
    * batch-prep op: documents stream in doc_id order into fixed
    * `seqLen`-token bins, a document opening at token offset `cum -
    * n_tok` landing in bin `floor(offset / seqLen)` (boundary
    * documents overflow their bin; fill can exceed 1.0 — the
    * streaming-pack formulation, not bin-perfect knapsack). Packing
    * is PER SHARD (`pmod(doc_id, nShards)`) so the running-sum window
    * parallelizes — a single global cumsum would serialize the corpus
    * through one partition, the classic window scale-killer; at
    * 100 TB, nShards scales with the cluster and each shard's
    * cumulative sum is an independent spillable sort. Output is the
    * per-bin manifest (doc count, token count, fill ratio) a packing
    * writer would consume. */
  def pipePackSequences(s: SparkSession, dir: String, seqLen: Int = 2048,
                        nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), nWords(col("text")).as("n_tok"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / seqLen))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / lit(seqLen.toDouble), 4).as("fill"))
      .orderBy("shard", "bin")
  }

  /** Deterministic corpus shuffle — the pretraining-order op that
    * feeds the packer: every document draws a reproducible
    * pseudo-random key `md5(doc_id ":" seed)`, lands in a
    * hash-random shard (top 60 bits of the key, map-only — no
    * shuffle to ASSIGN shards), and takes its position within the
    * shard from the key order. A trainer reading shards round-robin
    * by position sees the full corpus in shuffled order without any
    * engine ever running a GLOBAL sort: each shard's ordering is an
    * independent spillable per-partition sort
    * (`Window.partitionBy(shard)`), and `nShards` scales with the
    * cluster — the same serialize-through-one-partition trap
    * [[pipePackSequences]] documents is avoided the same way.
    *
    * Output is the per-shard manifest (doc/token counts) plus an
    * order-sensitive permutation checksum `sum(pos * (doc_id mod
    * 1000003))` — any transposition of two documents changes it, so
    * the DuckDB oracle verifies the actual permutation, not just the
    * shard sizes. */
  /** (doc_id, n_tok, skey, shard) with the md5 shuffle key and its
    * hash-random shard — the shared prefix of the shuffled-order
    * family. 15 hex chars = 60 bits: positive in a long in both
    * engines. */
  private def shuffleKeyed(s: SparkSession, dir: String, nShards: Int,
                           seed: Int): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), nWords(col("text")).as("n_tok"),
        md5(concat_ws(":", col("doc_id"), lit(seed))).as("skey"))
      .withColumn("shard",
        pmod(conv(substring(col("skey"), 1, 15), 16, 10).cast("long"),
          lit(nShards.toLong)))

  def pipeCorpusShuffle(s: SparkSession, dir: String, nShards: Int = 8,
                        seed: Int = 42): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    shuffleKeyed(s, dir, nShards, seed)
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum(col("pos") * pmod(col("doc_id"), lit(1000003L)))
          .as("perm_checksum"))
      .orderBy("shard")
  }

  /** Shuffle-then-pack — the closed batch-prep loop: documents take
    * their [[pipeCorpusShuffle]] pseudo-random order and stream into
    * fixed `seqLen`-token bins exactly as [[pipePackSequences]] does
    * in doc_id order. This is the manifest a pretraining data loader
    * actually consumes: bins of shuffled documents, one independent
    * spillable sort per hash-random shard, no global sort anywhere.
    * Same streaming-pack semantics (boundary documents overflow
    * their bin; fill can exceed 1.0). */
  def pipeShufflePack(s: SparkSession, dir: String, seqLen: Int = 2048,
                      nShards: Int = 8, seed: Int = 42): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    shuffleKeyed(s, dir, nShards, seed)
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / seqLen))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / lit(seqLen.toDouble), 4).as("fill"))
      .orderBy("shard", "bin")
  }

  /** Daily-ingest end-to-end report in ONE plan: the new shard
    * (doc_id % 10 == 0) runs the quality gate AND the incremental
    * dedup probes ([[Dedup.dedupIncremental]] — corpus never
    * shuffles), rolled up per language as the numbers an ingest
    * pipeline publishes: arrivals, quality passes, exact/near
    * collisions with the corpus, and the net ingestable count.
    * Every input is deterministic (rule label + band collisions), so
    * unlike `pipe_ml_filter` this composition is fully
    * oracle-checked, not a partial contract. */
  def pipeIncrementalE2e(s: SparkSession, dir: String): DataFrame =
    incrementalReport(s, dir, Dedup.dedupIncremental(s, dir))

  /** The same daily-ingest report over the PERSISTED corpus state —
    * the plan a production scheduler actually runs: probe the stored
    * bucketed signature tables ([[operators.Dedup.dedupIncrementalPersisted]]),
    * gate, roll up. Flags are identical to the recompute composition
    * by construction, so this shares pipe_incremental_e2e's oracle
    * verbatim. */
  def pipeIncrementalE2ePersisted(s: SparkSession, dir: String): DataFrame =
    incrementalReport(s, dir, Dedup.dedupIncrementalPersisted(s, dir))

  private def incrementalReport(s: SparkSession, dir: String, inc: DataFrame): DataFrame = {
    val gated = qualityFeatures(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0))
      .withColumn("q", col("words") >= 30 && col("alpha_ratio") >= 0.6)
      .select("doc_id", "lang", "q")
    gated.join(inc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("exact_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("near_dup"), 1L).otherwise(0L)).as("n_near_dup"),
        sum(when(col("q") && !col("exact_dup") && !col("near_dup"), 1L)
          .otherwise(0L)).as("n_ingest"))
      .orderBy("lang")
  }

  /** Corpus-wide repeated exact substrings (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" signal): the top-k
    * character n-grams (default 50) occurring at least twice across the
    * corpus, with occurrence and document counts — the exact-substring
    * complement to the shingle/minhash near-dup family.
    *
    * Two phases so the exact aggregate never touches the full position
    * stream twice:
    *  1. the codegen'd rolling `ngram_hashes` emits one 64-bit hash per
    *     position (one O(len) pass per doc); a fixed-width hash-keyed
    *     count keeps only hashes seen ≥ 2 times — at 100 TB this drops
    *     the overwhelmingly-unique tail map-side-combined, and the
    *     shuffle carries (hash, doc_id, pos), never text;
    *  2. only surviving positions slice their actual n-gram and
    *     aggregate on the oracle-reproducible md5-60 gram id (rolling-
    *     hash collisions between DIFFERENT grams split apart here and
    *     fall to n_occ = 1, re-filtered) — so phase 1 only prunes,
    *     never alters the result.
    * Global top-k is TakeOrdered (orderBy + limit), not a single-
    * partition window. */
  def pipeRepeatedNgrams(s: SparkSession, dir: String, n: Int = 50, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), lower(col("text")).as("t"))
    val occ = docs
      .select(col("doc_id"),
        posexplode(graft.functions.VectorFunctions.ngram_hashes(col("t"), n)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val repeated = occ.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    // surviving (doc_id, pos) re-attach text by doc_id — bounded by
    // docs that actually contain a repeated gram, not the corpus.
    // Aggregate on the RAW gram (map-side combine collapses the dense
    // repeats before the shuffle) and derive the md5-60 tie-break id
    // only on the distinct-gram result — on a repeat-dense corpus
    // hashing per OCCURRENCE was the dominant cost (3× on the sf1-like
    // replica set, where every gram repeats 10×).
    val counts = occ.join(repeated, Seq("h"), "left_semi")
      .join(docs, "doc_id")
      .select(col("doc_id"), expr(s"substring(t, pos + 1, $n)").as("g"))
      // two-level, not count_distinct: a distinct aggregate would plan
      // an Expand DOUBLING the occurrence stream through the shuffle
      // (the q46 pitfall); (g, doc_id) partial-combines instead, and
      // the per-doc table is already the n_docs count
      .groupBy("g", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("g")
      .agg(sum("c").as("n_occ"), count(lit(1)).as("n_docs"))
      .filter(col("n_occ") >= 2)
      .withColumn("gid", expr(Dedup.md5Hash60Sql("g")))
    counts.orderBy(col("n_occ").desc, col("gid")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_occ").desc, col("gid"))).cast("long"))
      .select(col("rank"), col("g").as("gram"), col("n_occ"), col("n_docs"))
      .orderBy("rank")
  }

  /** Context-window chunking (`pipe_chunk`) — the step that turns raw
    * documents into fixed-size overlapping training/RAG windows:
    * tokenize, emit a chunk every `stride` tokens, each `window`
    * tokens long (the final chunk may be shorter; an empty document
    * yields one empty chunk so no doc silently disappears). Output is
    * (doc_id, chunk_id, n_tokens, chunk_md5) with the md5 standing in
    * for the chunk payload so the cross-engine compare is exact.
    *
    * 100 TB shape: pure map — `sequence`/`explode`/`slice` are all
    * codegen'd, no shuffle before the presentation sort, and the
    * ~window/stride output amplification happens AFTER the scan so
    * column pruning still reads only (doc_id, text). Chunk boundaries
    * depend only on the document itself, so the operator is
    * embarrassingly parallel and deterministic across reruns and
    * engines — the property that makes downstream dedup/packing
    * reproducible. */
  def pipeChunk(s: SparkSession, dir: String, window: Int = 64,
                stride: Int = 48): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> t != '')").as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0, greatest(size(w) - 1, 0), $stride)")).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        least(expr("size(w) - start"), lit(window)).cast("long").as("n_tokens"),
        md5(concat_ws(" ", expr(s"slice(w, start + 1, $window)"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  /** Token-entropy quality signal (`text_entropy`) — the unigram
    * Shannon entropy per document (CCNet-family repetitiveness
    * measure: templated/degenerate text scores low, natural prose
    * high), plus the type-count-normalized form in [0, 1] that
    * compares docs of different lengths. Computed entirely map-side
    * by the [[graft.functions.TokenEntropy]] local-sort kernel — the
    * per-(doc, token) count table never shuffles; one scan at
    * 100 TB. `norm_entropy` divides by log2(n_types) (0 when the doc
    * has ≤ 1 distinct token). */
  def textEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> t != '')").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_types"),
        graft.functions.VectorFunctions.token_entropy(col("w")).as("h"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("h"), 4).as("entropy"),
        round(when(col("n_types") <= 1, lit(0.0))
          .otherwise(col("h") / log2(col("n_types").cast("double"))), 4)
          .as("norm_entropy"))
      .orderBy("doc_id")

  /** Chunk-level exact dedup (`pipe_chunk_dedup`) — dedup at the
    * TRAINING-SEQUENCE granularity rather than the document: disjoint
    * `window`-token chunks ([[pipeChunk]] with stride = window) are
    * keyed by payload md5 and every repeat of a payload after its
    * first (lowest (doc_id, chunk_id)) occurrence is flagged — the
    * pass that catches boilerplate blocks repeated across otherwise
    * distinct documents, which document-level dedup cannot see.
    *
    * Skew-by-construction note: a boilerplate chunk shared by
    * millions of documents would make a per-key WINDOW a single-task
    * sort, so the keeper is instead a partial-aggregating `min` over
    * a (doc_id, chunk_id) STRUCT — lexicographic, combines map-side,
    * never sorts a group, and injective at ANY scale (the earlier
    * arithmetic pack `doc_id·2²⁰ + chunk_id` silently collided once
    * a doc exceeded 2²⁰ chunks or doc_id exceeded 2⁴³ — exactly the
    * regime this operator advertises). Shuffle carries fixed-width
    * (md5, struct) rows only. */
  def pipeChunkDedup(s: SparkSession, dir: String, window: Int = 64): DataFrame = {
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> t != '')").as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0, greatest(size(w) - 1, 0), $window)")).as("start"))
      .select(col("doc_id"),
        (col("start") / window).cast("long").as("chunk_id"),
        md5(concat_ws(" ", expr(s"slice(w, start + 1, $window)"))).as("chunk_md5"))
    val keepers = chunks.groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("mk"))
    chunks.join(keepers, "chunk_md5")
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"),
        (col("doc_id") =!= col("mk.doc_id") ||
          col("chunk_id") =!= col("mk.chunk_id")).as("is_dup"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Token-budget selection (`pipe_token_budget`) — the data-mixing
    * step that fills a training-token budget with the best documents
    * first: rank by quality (type/token ratio here — a ratio of two
    * integers, so both engines order identically; ties → doc_id) and
    * keep the maximal prefix whose cumulative token count stays
    * within `budget`.
    *
    * The naive formulation is a GLOBAL running sum — a
    * single-partition window, the one shape that cannot scale. This
    * implementation is exact and distributed: per-quality-bin token
    * sums (a ~`nBins`-row aggregate, the mergeable-histogram idea
    * again) locate the threshold bin on the driver (bounded collect,
    * ≤ nBins rows); every doc in a better bin is kept outright
    * (map-only filter), and ONLY the boundary bin pays a window —
    * partitioned by bin, so its state is one bin's docs, not the
    * corpus. The oracle runs the naive global window; the two are
    * equal because bins are monotone in the sort key and the
    * within-bin order extends the global order.
    *
    * The budget is a FRACTION of the corpus's total tokens (derived
    * from the same bin sums the threshold search already collected —
    * no extra scan), so the gate binds identically at every scale
    * instead of going vacuous when the corpus outgrows an absolute
    * number. */
  def pipeTokenBudget(s: SparkSession, dir: String, budgetFrac: Double = 0.5,
                      nBins: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> t != '')").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(array_distinct(col("w"))).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("q"))
      .withColumn("bin",
        least(floor(col("q") * nBins), lit(nBins - 1)).cast("long"))
      .cacheTracked
    // bounded driver step: locate the threshold bin (≤ nBins rows)
    val binToks = docs.groupBy("bin").agg(sum("n_tokens").as("toks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(-_._1)
    // exact at any scale: Long·Double rounds above 2^53 tokens (real
    // corpora get there), so the budget is a BigDecimal product with
    // an explicit floor — identical to the oracle's integer
    // floor(total · frac) for every representable frac
    val budget = (BigDecimal(binToks.map(_._2).sum) * BigDecimal(budgetFrac))
      .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
    var acc = 0L
    var threshold = -1L // bin that overflows the budget, walking best-first
    var remaining = budget
    binToks.foreach { case (bin, toks) =>
      if (threshold == -1L) {
        if (acc + toks > budget) { threshold = bin; remaining = budget - acc }
        else acc += toks
      }
    }
    val kept =
      if (threshold == -1L) docs // whole corpus fits
      else {
        val full = docs.filter(col("bin") > threshold)
        val boundary = docs.filter(col("bin") === threshold)
          .withColumn("cum", sum("n_tokens").over(
            Window.partitionBy("bin").orderBy(col("q").desc, col("doc_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum") <= remaining)
          .drop("cum")
        full.unionByName(boundary)
      }
    kept.select(col("doc_id"), col("n_tokens"), round(col("q"), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** MERGEABLE-quantile rollup (`pipe_quantile_rollup`) — the
    * [[pipeSketchRollup]] pattern for percentiles: exact quantiles
    * don't pre-aggregate (medians don't add), but a fixed-width
    * HISTOGRAM does — per-(lang, source) bin counts over document
    * length are the stored partial (a few dozen longs per group), and
    * any coarser rollup (here per-lang) just SUMS bins; the quantile
    * then reads off the merged cumulative histogram with error
    * bounded by one bin width. The rollup never re-scans raw data —
    * the property that makes the pattern work at 100 TB.
    *
    * Verification contract (the sketch-family pattern): the
    * histogram-derived p50/p95 bins are emitted alongside the EXACT
    * discrete percentiles (smallest value whose running count reaches
    * ceil(q·total) — a tie-stable definition both engines replay
    * identically), plus a Spark-computed `ok` flag asserting each
    * exact percentile falls inside its claimed bin. The oracle
    * recomputes everything and expects `ok` true. */
  def pipeQuantileRollup(s: SparkSession, dir: String, binW: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("lang"), col("source"), col("n_chars"))
    // the stored partial: per-(lang, source) histogram
    val partial = docs
      .groupBy(col("lang"), col("source"), expr(s"n_chars DIV $binW").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    // the rollup: bins ADD — no raw re-scan
    val merged = partial.groupBy("lang", "bin").agg(sum("cnt").as("cnt"))
    val cum = merged
      .withColumn("cum", sum("cnt").over(Window.partitionBy("lang").orderBy("bin")))
      .withColumn("total", sum("cnt").over(Window.partitionBy("lang")))
    val approx = cum.groupBy("lang")
      .agg(max("total").as("total"),
        min(when(col("cum") >= ceil(col("total") * 0.5), col("bin"))).as("p50_bin"),
        min(when(col("cum") >= ceil(col("total") * 0.95), col("bin"))).as("p95_bin"))
    // exact side (oracle-shared definition): value at sorted position
    // ceil(q·total) — per-lang window rank over the raw values
    val ranked = docs
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n_chars"))))
      .withColumn("total", count(lit(1)).over(Window.partitionBy("lang")))
    val exact = ranked.groupBy("lang")
      .agg(min(when(col("rk") === ceil(col("total") * 0.5), col("n_chars"))).as("p50_exact"),
        min(when(col("rk") === ceil(col("total") * 0.95), col("n_chars"))).as("p95_exact"))
    approx.join(exact, "lang")
      .select(col("lang"), col("total"),
        (col("p50_bin") * binW).as("p50_lo"), (col("p95_bin") * binW).as("p95_lo"),
        col("p50_exact"), col("p95_exact"),
        (col("p50_exact") >= col("p50_bin") * binW &&
          col("p50_exact") < (col("p50_bin") + 1) * binW &&
          col("p95_exact") >= col("p95_bin") * binW &&
          col("p95_exact") < (col("p95_bin") + 1) * binW).as("ok"))
      .orderBy("lang")
  }

  // --- model-based quality classifier (`pipe_classifier_quality`) ---

  /** Hashed-feature dimensionality of the quality classifier. 2048
    * buckets keeps word-identity collisions rare on this corpus's
    * vocabulary while the inlined weight list stays a modest literal
    * in both the Scala constant and the DuckDB oracle. */
  val ClassifierDim = 2048

  /** Per-document FEATURE BUCKETS for the model-based quality
    * classifier — the fastText-shape feature template (Joulin et al.
    * 2016; the CCNet/GPT-3/Llama-class quality-gate input): word
    * unigrams + word bigrams + a small set of quantized structural
    * metadata tokens, all hashed into one [[ClassifierDim]]-bucket
    * space, presence-coded (distinct buckets, sorted).
    *
    * The structural tokens are the standard fastText trick of
    * injecting per-document metadata as extra vocabulary items
    * (length, ratio signals quantized at two resolutions so coarse
    * cells generalize while fine cells resolve decision boundaries) —
    * the linear fit still LEARNS every weight; nothing here encodes a
    * verdict. They reuse [[gopherSignals]]' exact signal columns, so
    * classifier features and rule-gate inputs are derived from the
    * same integer counts.
    *
    * Exactness contract: tokens, quantized cells, and the md5-derived
    * bucket ids ([[Dedup.md5Hash60Sql]]) are integer/double arithmetic
    * both engines share; buckets are DISTINCT + SORTED so the score
    * fold below visits them in one canonical order — the DuckDB twin
    * replays the fold bit-for-bit. Map-only: zero shuffle. */
  private[graft] def classifierFeatureFrame(docs: DataFrame): DataFrame = {
    def tok(prefix: String, cell: Column): Column =
      concat(lit("__" + prefix), cell.cast("string"), lit("__"))
    gopherSignals(docs)
      .withColumn("bg",
        when(size(col("w")) < 2, array().cast("array<string>"))
          .otherwise(zip_with(
            slice(col("w"), lit(1), size(col("w")) - 1),
            slice(col("w"), lit(2), size(col("w")) - 1),
            (a, b) => concat(a, lit(" "), b))))
      .withColumn("structural", array(
        tok("nwc", least(expr("n_words div 8"), lit(16L))),
        tok("nwf", least(expr("n_words div 2"), lit(64L))),
        tok("mwl", floor(col("mwl") * 10)),
        tok("al", floor(col("alpha_ratio") * 50)),
        tok("stc", least(floor(col("stop_ratio") * 50), lit(20L))),
        tok("stf", least(floor(col("stop_ratio") * 200), lit(80L))),
        tok("duc", floor(col("dup_word_frac") * 20)),
        tok("duf", floor(col("dup_word_frac") * 200)),
        tok("tb", least(floor(col("top_bigram_frac") * 50), lit(20L)))))
      // ONE feature definition: `grams` feeds both the fit tool's
      // bucket ids and the scoring kernel — fit and serve can never
      // silently diverge on the feature template (review catch, r19)
      .withColumn("grams", concat(col("w"), col("bg"), col("structural")))
      .withColumn("buckets", array_sort(array_distinct(expr(
        s"transform(grams, g -> ${Dedup.md5Hash60Sql("g")} % $ClassifierDim)"))))
  }

  /** Frozen-weight logistic score appended to
    * [[classifierFeatureFrame]]: `raw` = bias + Σ W(bucket) over the
    * sorted distinct buckets (a left fold, so summation order is
    * canonical on both engines), `keep_pred` = raw > 0 (σ is monotone,
    * so the logit sign IS the 0.5-probability verdict — no exp in the
    * compared output). Weights are [[QualityWeights]], fit offline by
    * [[graft.tools.FitQualityWeights]]. Map-only scoring: the weight
    * array rides into the plan as one literal. */
  private[graft] def classifierScoreFrame(docs: DataFrame): DataFrame =
    classifierFeatureFrame(docs)
      // one codegen'd kernel call per document (md5-bucket + sorted-
      // distinct fold inside the scan); arithmetic bit-identical to
      // the former transform/aggregate HOF chain — measured 2.2 s
      // cheaper at sf0.1. The `buckets` column remains for the fit
      // tool; Catalyst prunes it out of this plan.
      .withColumn("raw",
        graft.functions.VectorFunctions.quality_score(col("grams")))
      .withColumn("score", round(col("raw"), 4))
      .withColumn("keep_pred", col("raw") > lit(0.0))

  /** Model-based quality gate (`pipe_classifier_quality`) — the
    * production-standard classifier gate (CCNet, Wenzek et al. 2020;
    * GPT-3, Brown et al. 2020 §A; Llama): a linear model over hashed
    * n-gram features with frozen offline-fit weights, scoring map-only
    * at full corpus scale. Complements the rule-based
    * [[pipeGopherGate]]: the fit was trained against those verdicts
    * PLUS a curated adversarial negative class
    * ([[graft.tools.QualityAugment]] — fluent-rule-passing gibberish),
    * so it rejects template junk every rule passes (spec-pinned). */
  def pipeClassifierQuality(s: SparkSession, dir: String): DataFrame =
    classifierScoreFrame(Tables.documents(s, dir))
      .select(col("doc_id"), col("score"), col("keep_pred").as("keep"))
      .orderBy("doc_id")
}
