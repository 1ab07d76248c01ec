package graft

import graft.operators.{Dedup, Multimodal, TextAnalysis}

class TextMultimodalSpec extends SparkSpec {

  test("language-ID heuristic identifies genuine multilingual text") {
    // the corpus's `lang` column is a synthetic label unrelated to the
    // (English word-salad) text, so accuracy is asserted on real
    // language samples instead
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with the sun"),
      ("de", "der hund ist nicht mit der katze und das ist ein problem"),
      ("fr", "le chat est sur la table et les enfants sont dans une maison"),
      ("es", "el perro es grande y los gatos son una familia de la casa"),
      ("zh", "这是一只猫在桌子上")).toDF("expected", "text")
    val rows = TextAnalysis.withLangPred(samples).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("lang_pred") == r.getAs[String]("expected"),
        s"${r.getAs[String]("expected")}: got ${r.getAs[String]("lang_pred")}")
    }
  }

  test("textLangId emits a prediction per document") {
    val rows = TextAnalysis.textLangId(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    assert(rows.forall(r => r.getAs[String]("lang_pred") != null))
  }

  test("fingerprint is deterministic and whitespace-normalized") {
    val a = TextAnalysis.textFingerprint(spark, Sf).collect()
    val b = TextAnalysis.textFingerprint(spark, Sf).collect()
    assert(a.map(_.getString(1)).sameElements(b.map(_.getString(1))))
    // 64-bit variant: equal texts modulo whitespace runs collide
    import spark.implicits._
    val fp = Seq("a  b\tc", "a b c", "a b  c ").toDF("text")
      .select(TextAnalysis.fingerprint64(org.apache.spark.sql.functions.col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(fp(0) == fp(1) && fp(1) != fp(2)) // trailing space survives collapse
  }

  test("winnowing fingerprints: shared long substrings share a fingerprint") {
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = Seq(
      s"AAAA $common BBBB",       // shares `common` with doc 2
      s"XXXX $common YYYY",
      "completely different text with no overlap at all in any window")
      .toDF("text")
    val fps = docs
      .select(TextAnalysis.winnowFingerprints(org.apache.spark.sql.functions.col("text")).as("fp"))
      .collect().map(_.getSeq[Long](0).toSet)
    // winnowing guarantee: shared substring >= n + w - 1 chars ⇒ shared fingerprint
    assert((fps(0) & fps(1)).nonEmpty)
    assert((fps(0) & fps(2)).isEmpty)
    // density: selected fingerprints are a small fraction of all positions
    assert(fps(0).size < docs.head.getString(0).length / 2)
  }

  test("winnow kernels match the HOF reference formulation on real docs") {
    import org.apache.spark.sql.functions._
    // both kernels (md5-60 n-gram hash pass, deque window minima) vs
    // the interpreted transform/sequence/slice formulations they
    // replaced — element-for-element, order included
    val both = Tables.documents(spark, Sf)
      .select(col("doc_id"), lower(col("text")).as("lt"))
      .select(col("doc_id"),
        graft.functions.VectorFunctions.md5_ngram_hashes(col("lt"), 8).as("hk"),
        transform(
          sequence(lit(1), greatest(length(col("lt")) - lit(7), lit(1))),
          i => conv(substring(md5(col("lt").substr(i, lit(8))), 1, 15), 16, 10).cast("long")).as("hr"))
      .select(col("doc_id"), col("hk"), col("hr"),
        TextAnalysis.winnowSelectMinima(col("hk")).as("wk"),
        TextAnalysis.winnowSelectMinimaHof(col("hk")).as("wr"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"md5 ngram kernel diverged for doc ${r.getLong(0)}")
      assert(r.getSeq[Long](3) == r.getSeq[Long](4),
        s"winnow minima kernel diverged for doc ${r.getLong(0)}")
    }
  }

  test("text_stats: tokens ≥ words, chars equal source length") {
    val rows = TextAnalysis.textStats(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("tokens") >= r.getAs[Long]("words"))
    }
  }

  test("pipe_chunk: stride coverage, window cap, and payload hash check out") {
    import org.apache.spark.sql.functions._
    val window = 64; val stride = 48
    val chunks = TextAnalysis.pipeChunk(spark, Sf, window, stride).collect()
    assert(chunks.nonEmpty)
    // per-doc token counts from the same tokenization
    val nTok = Tables.documents(spark, Sf)
      .select(col("doc_id"),
        size(expr("filter(split(lower(text), '\\\\s+'), t -> t != '')")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, cs) =>
      val n = nTok(doc)
      val sorted = cs.sortBy(_.getAs[Long]("chunk_id"))
      // chunk ids are 0..k-1 with k = ceil(n/stride) (min 1)
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq ==
        (0L until math.max((n + stride - 1) / stride, 1).toLong))
      // every chunk covers exactly min(n - start, window) tokens —
      // with stride < window the tail can truncate more than one chunk
      sorted.foreach { c =>
        val start = stride * c.getAs[Long]("chunk_id")
        assert(c.getAs[Long]("n_tokens") == math.min(n - start, window.toLong))
      }
      assert(cs.forall(_.getAs[String]("chunk_md5").length == 32))
    }
    // payload hash: recompute one doc's first chunk by hand
    val doc0 = Tables.documents(spark, Sf)
      .filter(col("doc_id") === chunks.head.getAs[Long]("doc_id"))
      .select(lower(col("text"))).collect().head.getString(0)
    val toks = doc0.split("\\s+").filter(_.nonEmpty).take(window)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(toks.mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(chunks.head.getAs[String]("chunk_md5") == md)
  }

  test("pipe_chunk_dedup: one keeper per payload, keeper is the first occurrence") {
    val rows = TextAnalysis.pipeChunkDedup(spark, Sf).collect()
    assert(rows.nonEmpty)
    val byMd5 = rows.groupBy(_.getAs[String]("chunk_md5"))
    byMd5.foreach { case (_, cs) =>
      val keepers = cs.filterNot(_.getAs[Boolean]("is_dup"))
      assert(keepers.length == 1, "exactly one keeper per distinct payload")
      val first = cs.map(c => (c.getAs[Long]("doc_id"), c.getAs[Long]("chunk_id"))).min
      val k = keepers.head
      assert((k.getAs[Long]("doc_id"), k.getAs[Long]("chunk_id")) == first,
        "keeper must be the lowest (doc_id, chunk_id) occurrence")
    }
    // the corpus genuinely repeats some chunk payloads — non-vacuous
    assert(rows.count(_.getAs[Boolean]("is_dup")) > 0,
      "no duplicate chunks in corpus — dedup is vacuous")
  }

  test("pipe_token_budget: bin-threshold selection equals the naive global prefix, and is maximal") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val frac = 0.5
    val got = TextAnalysis.pipeTokenBudget(spark, Sf, frac).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    // naive reference: one global running-sum window (the shape the
    // operator exists to avoid at scale)
    val d = Tables.documents(spark, Sf)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), t -> t != '')").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        (size(array_distinct(col("w"))).cast("double") /
          greatest(size(col("w")), lit(1)).cast("double")).as("q"))
    val total = d.agg(sum("n_tokens")).collect()(0).getLong(0)
    val budget = (total * frac).toLong
    val naive = d.withColumn("cum", sum("n_tokens").over(
        Window.orderBy(col("q").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= budget).collect()
    assert(got == naive.map(_.getAs[Long]("doc_id")).toSet)
    // binds (not vacuous), fits the budget, and is maximal: the kept
    // prefix plus the FIRST excluded doc in quality order overflows
    val keptToks = naive.map(_.getAs[Long]("n_tokens")).sum
    assert(got.nonEmpty && got.size < d.count())
    assert(keptToks <= budget)
    val nextTok = d.withColumn("cum", sum("n_tokens").over(
        Window.orderBy(col("q").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") > budget)
      .orderBy(col("q").desc, col("doc_id"))
      .select("n_tokens").limit(1).collect()(0).getLong(0)
    assert(keptToks + nextTok > budget)
  }

  test("pipe_quantile_rollup: bins contain the exact percentiles and merge equals direct") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.pipeQuantileRollup(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ok"),
        s"lang ${r.getAs[String]("lang")}: exact percentile escaped its claimed bin")
      assert(r.getAs[Long]("p50_lo") <= r.getAs[Long]("p50_exact"))
      assert(r.getAs[Long]("p95_lo") <= r.getAs[Long]("p95_exact"))
      assert(r.getAs[Long]("p95_exact") >= r.getAs[Long]("p50_exact"))
    }
    // mergeability: rolling up the per-(lang, source) partials yields
    // the SAME per-lang histogram as binning the raw data directly —
    // the property that lets the 100 TB rollup skip the raw re-scan
    val docs = Tables.documents(spark, Sf)
    val direct = docs.groupBy(col("lang"), expr("n_chars DIV 256").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val viaPartial = docs
      .groupBy(col("lang"), col("source"), expr("n_chars DIV 256").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("lang", "bin").agg(sum("cnt").as("cnt"))
    assert(viaPartial.except(direct).isEmpty && direct.except(viaPartial).isEmpty)
  }

  test("mm_image_features: scanline features match the closed-form pixels; corrupt degrades") {
    val rows = Multimodal.mmImageFeatures(spark, Sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rs) =>
      val w = (4 + id % 8).toInt; val h = (4 + id % 5).toInt
      assert(rs.length == h)
      rs.foreach { r =>
        val y = r.getAs[Long]("y")
        val reds = (0 until w).map(x => (x + id) % 256)
        assert(r.getAs[Long]("sum_r") == reds.sum)
        assert(r.getAs[Long]("sum_g") == w * ((y + 2 * id) % 256))
        assert(r.getAs[Long]("sum_b") == (0 until w).map(x => (x + y + 3 * id) % 256).sum)
        assert(r.getAs[Long]("grad_r") ==
          reds.zip(reds.tail).map { case (a, b) => math.abs(b - a) }.sum)
      }
    }
    // corrupt payload: decode returns None (operator emits nothing
    // for that payload instead of failing the partition)
    val garbage = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    assert(Multimodal.decodeRaster(garbage).isEmpty)
  }

  test("mm_frame_sample strides frames and resizes features") {
    val rows = Multimodal.mmFrameSample(spark, Sf, frameBytes = 64, stride = 4, resizeDim = 4)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, frames) =>
      val idxs = frames.map(_.getAs[Long]("frame_idx")).sorted
      // every stride-th frame index, starting at 0
      assert(idxs.head == 0 && idxs.zip(idxs.tail).forall { case (a, b) => b - a == 4 })
      assert(frames.forall(_.getAs[Long]("n_frames") == frames.length))
      assert(frames.forall(_.getAs[scala.collection.Seq[Double]]("features").length == 4))
    }
  }

  test("mm_decode emits fixed-width normalized features per document") {
    val rows = Multimodal.mmDecode(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      val f = r.getAs[scala.collection.Seq[Double]]("features")
      assert(f.length == Multimodal.FeatureDim)
      assert(math.abs(f.sum - 1.0) < 1e-9) // histogram normalized
      assert(r.getAs[String]("format") == "raw") // text payloads sniff as raw
    }
  }

  test("png codec: synthesized payload is a real PNG and decodes back exactly") {
    for (id <- Seq(0L, 5L, 123L * 5)) {
      val bytes = Multimodal.pngBytes(id)
      // PNG magic per the spec: 0x89 'P' 'N' 'G'
      assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
      assert(Multimodal.sniffFormat(bytes) == "png")
      val w = (4 + id % 8).toInt; val h = (4 + id % 5).toInt
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        sr += (x + id) % 256; sg += (y + 2 * id) % 256; sb += (x + y + 3 * id) % 256
      }
      // lossless roundtrip: the JDK decoder must recover the exact pixels
      assert(Multimodal.decodeImage(bytes).contains((w, h, sr, sg, sb)))
    }
  }

  test("png codec: corrupt image bytes degrade to the raw path, not a failure") {
    // sniffs as PNG (magic intact) but the body is garbage
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4, 5)
    assert(Multimodal.sniffFormat(corrupt) == "png")
    assert(Multimodal.decodeImage(corrupt).isEmpty)
  }

  test("mm_decode_real dispatches: real PNG decode for every 5th doc, stub for the rest") {
    val rows = Multimodal.mmDecodeReal(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 5 == 0) {
        assert(r.getAs[String]("format") == "png")
        assert(r.getAs[Long]("width") == 4 + id % 8)
        assert(r.getAs[Long]("height") == 4 + id % 5)
        assert(r.getAs[Long]("n_px") == (4 + id % 8) * (4 + id % 5))
      } else {
        assert(r.getAs[String]("format") == "raw")
        assert(r.getAs[Long]("width") == 0L)
        assert(r.getAs[Long]("n_px") > 0L)
      }
    }
  }

  test("wav codec: synthesized payload is a real RIFF/WAVE and decodes back exactly") {
    for (id <- Seq(0L, 5L, 123L * 5)) {
      val bytes = Multimodal.wavBytes(id)
      assert(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F')
      assert(Multimodal.sniffFormat(bytes) == "wav")
      val n = (16 + id % 16).toInt; val step = (1 + id % 7).toInt
      val samples = (0 until n).map(i => ((i.toLong * step * 257 + id) % 65536L) - 32768L)
      // PCM is lossless: the JDK decoder must recover the exact samples
      assert(Multimodal.decodeWav(bytes)
        .contains((n.toLong, samples.sum, samples.min, samples.max)))
    }
  }

  test("wav codec: corrupt audio bytes degrade to the raw path, not a failure") {
    // sniffs as WAV (RIFF/WAVE magic intact) but the chunk body is garbage
    val corrupt = "RIFF0000WAVE".getBytes ++ Array[Byte](1, 2, 3, 4, 5)
    assert(Multimodal.sniffFormat(corrupt) == "wav")
    assert(Multimodal.decodeWav(corrupt).isEmpty)
  }

  test("gif codec: synthesized payload is a real multi-frame GIF and decodes back exactly") {
    val id = 10L
    val bytes = Multimodal.gifBytes(id)
    assert(Multimodal.isGif(bytes), "payload must carry the GIF8xa magic")
    val frames = Multimodal.decodeGif(bytes).get
    val nf = (2 + id % 4).toInt; val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
    assert(frames.length == nf)
    frames.zipWithIndex.foreach { case ((fw, fh, sum), f) =>
      assert(fw == w && fh == h)
      val expect = (for (y <- 0 until h; x <- 0 until w)
        yield (x + 3 * y + 5 * f + id) % 256).sum
      assert(sum == expect, s"frame $f: got $sum, expect $expect")
    }
  }

  test("gif codec: corrupt payload degrades to the raw framing path, not a failure") {
    val corrupt = "GIF89a".getBytes ++ Array[Byte](1, 2, 3)
    assert(Multimodal.isGif(corrupt))
    assert(Multimodal.decodeGif(corrupt).isEmpty)
  }

  test("mm_frame_sample_gif dispatches: real GIF frames for every 5th doc, raw blocks else") {
    val rows = Multimodal.mmFrameSampleGif(spark, Sf).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet.size == Tables.documents(spark, Sf).count())
    byDoc.foreach { case (id, rs) =>
      if (id % 5 == 0) {
        val nf = 2 + id % 4
        assert(rs.forall(_.getAs[String]("format") == "gif"))
        assert(rs.forall(_.getAs[Long]("n_frames") == nf))
        // every stride-2 frame sampled: indices 0, 2, (4)
        assert(rs.map(_.getAs[Long]("frame_idx")).sorted.toSeq ==
          (0L until nf).filter(_ % 2 == 0))
        assert(rs.forall(r => r.getAs[Long]("width") == 4 + id % 5 &&
          r.getAs[Long]("height") == 3 + id % 4))
      } else {
        assert(rs.forall(r => r.getAs[String]("format") == "raw" &&
          r.getAs[Long]("frame_idx") % 4 == 0 && r.getAs[Long]("sum_px") > 0))
      }
    }
  }

  test("mm_decode_wav dispatches: real WAV decode for every 5th doc, stub for the rest") {
    val rows = Multimodal.mmDecodeWav(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 5 == 0) {
        assert(r.getAs[String]("format") == "wav")
        assert(r.getAs[Long]("n_samples") == 16 + id % 16)
        assert(r.getAs[Long]("n_bytes") == 2 * (16 + id % 16))
        assert(r.getAs[Long]("min_s") >= -32768L && r.getAs[Long]("max_s") <= 32767L)
      } else {
        assert(r.getAs[String]("format") == "raw")
        assert(r.getAs[Long]("n_samples") == 0L)
        assert(r.getAs[Long]("n_bytes") > 0L)
      }
    }
  }

  test("BPE kernel: maximal munch, UNK fallback, whitespace handling") {
    import graft.functions.{BpeTokenize, BpeVocab}
    val id = BpeVocab.tokens.zipWithIndex.toMap
    // whole fitted words encode as single tokens
    assert(BpeTokenize.encode("customer").toSeq == Seq(id("customer")))
    assert(BpeTokenize.encode("the fast query").toSeq ==
      Seq(id("the"), id("fast"), id("query")))
    // unseen word falls back to subword units: "joins" = "join" + "s"
    assert(BpeTokenize.encode("joins").toSeq == Seq(id("join"), id("s")))
    // unknown char → UNK(-1) consuming one char, then recovery
    assert(BpeTokenize.encode("a✗b").toSeq == Seq(id("a"), -1, id("b")))
    // whitespace runs (tab/newline) split words, never emit tokens
    assert(BpeTokenize.encode("  key\t\nrow  ").toSeq == Seq(id("key"), id("row")))
    assert(BpeTokenize.encode("").isEmpty && BpeTokenize.encode("   ").isEmpty)
    // maximal munch prefers the longest match at each position:
    // "tables" = "table" + "s", never "t,a,b,l,e,s" or "ab"-first
    assert(BpeTokenize.encode("tables").toSeq == Seq(id("table"), id("s")))
  }

  test("pipe_tokenize: per-doc aggregates are consistent and kernel-derived") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.pipeTokenize(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    // recompute one doc's aggregates from the raw kernel output
    val doc = Tables.documents(spark, Sf).orderBy("doc_id").limit(1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).head
    val ids = graft.functions.BpeTokenize.encode(doc._2.toLowerCase)
    val r0 = rows.find(_.getAs[Long]("doc_id") == doc._1).get
    assert(r0.getAs[Long]("n_tokens") == ids.length)
    assert(r0.getAs[Long]("n_unk") == ids.count(_ == -1))
    assert(r0.getAs[Long]("sum_ids") == ids.map(_.toLong).sum)
    assert(r0.getAs[Long]("checksum") ==
      ids.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum)
    // the word-salad corpus is fully in-vocab: zero UNKs corpus-wide
    assert(rows.map(_.getAs[Long]("n_unk")).sum == 0L)
  }

  test("pipe_full_ingest: stage verdicts equal the standalone operators; packing covers accepted docs") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.pipeFullIngest(spark, Sf).collect()
    assert(rows.nonEmpty)
    // shard membership: every incoming doc, eval ids excluded
    val expectIds = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 10 === 0 && col("doc_id") >= 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == expectIds)
    // gate verdicts must equal the standalone operators' outputs
    val cont = graft.operators.TextAnalysis.pipeDecontaminate(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val dups = graft.operators.Dedup.dedupIncremental(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("contaminated") == cont(id), s"doc $id contamination verdict")
      assert((r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup")) == dups(id),
        s"doc $id dedup verdict")
      val accepted = r.getAs[Boolean]("accepted")
      assert(accepted == (r.getAs[Boolean]("passed_quality") && !r.getAs[Boolean]("contaminated")
        && !r.getAs[Boolean]("exact_dup") && !r.getAs[Boolean]("near_dup")))
      // pack slots exactly for accepted docs
      assert((r.getAs[Long]("pack_shard") >= 0) == accepted &&
        (r.getAs[Long]("pack_bin") >= 0) == accepted, s"doc $id pack assignment")
      if (id % 7 == 0) assert(r.getAs[Long]("n_pii") >= 2, s"doc $id planted PII missed")
    }
    // the run must be non-vacuous: both accepted docs and rejections
    assert(rows.exists(_.getAs[Boolean]("accepted")))
    assert(rows.exists(r => !r.getAs[Boolean]("accepted")))
    // span-cut evidence equals the standalone cutter run on the same
    // corpus-wide scrubbed frame (cut-before-gate: words/quality are
    // computed on the CUT text, so the whole downstream verdict chain
    // depends on this stage matching)
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val scrubAll = Tables.documents(spark, Sf)
      .withColumn("raw", TextAnalysis.piiRawCol)
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"), ipRe, "<IP>")
          .as("text"))
    val standalone = graft.operators.Dedup.spanDedupCore(scrubAll, 50)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans_cut"), r.getAs[Long]("n_chars_cut"),
          r.getAs[String]("clean_text")))).toMap
    var anyCut = false
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (sp, ch, cleanText) = standalone(id)
      assert(r.getAs[Long]("n_spans_cut") == sp && r.getAs[Long]("n_chars_cut") == ch,
        s"doc $id: capstone cut evidence diverges from standalone spanDedupCore")
      // and the gate really ran on the cut text
      val expWords = cleanText.split("\\s+").count(_.nonEmpty).toLong
      assert(r.getAs[Long]("words") == expWords,
        s"doc $id: capstone word count not computed on the cut text")
      if (sp > 0) anyCut = true
    }
    assert(anyCut, "no shard doc was span-cut — the capstone's cut stage is vacuous here")
    CacheRegistry.releaseAll()
  }

  test("pipe_lm_bigram: fluent order outscores scrambled; unseen bigrams stay finite; <2-token docs absent") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val fluent = "the quick brown fox jumps over the lazy dog"
    // scrambled shares every WORD with the fluent corpus (identical
    // unigram distribution) but no bigram — exactly the degenerate
    // class the unigram form cannot separate and the bigram form must
    val scrambled = "dog the over fox quick lazy jumps brown the"
    val filler = (1L to 20L).map(i => (i, fluent))
    val docs = (filler :+ (100L, fluent) :+ (101L, scrambled)).toDF("doc_id", "text")
    val out = TextAnalysis.lmBigramCore(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_big"), r.getAs[Double]("lmb_score")))).toMap
    assert(out(100L)._2 > out(101L)._2,
      s"fluent must outscore the scrambled twin: $out")
    assert(!out(101L)._2.isNaN && !out(101L)._2.isInfinite,
      "interpolation floor must keep fully-unseen bigrams finite")
    assert(out(100L)._1 == 8L && out(101L)._1 == 8L) // 9 tokens → 8 positions
    // a doc with < 2 tokens has no bigram positions on either engine
    val ids = TextAnalysis.lmBigramCore(
        (filler :+ (200L, "solo")).toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(200L), "a 1-token doc must be absent, not scored")
    CacheRegistry.releaseAll()
  }

  test("corpus invariant backing the mm_decode*/raw byte-sum oracles: non-empty ASCII text") {
    // the mm_decode / mm_decode_wav 'raw' oracles sum unicode() code
    // points per character and unnest over range(1, length+1) — both
    // are only equal to the Spark-side UTF-8 byte sum when every doc
    // has non-empty, pure-ASCII text. A testdata regeneration that
    // breaks that must fail HERE with a named cause, not as an opaque
    // oracle hash mismatch (ADVICE r8).
    import org.apache.spark.sql.functions._
    // both the spec-scale dir and the driver's sf0.01 gate dir
    for (dir <- Seq(Sf, "/root/testdata/sf0.01")) {
      val bad = Tables.documents(spark, dir)
        .filter(length(col("text")) === 0 || col("text").rlike("[^\\x00-\\x7F]"))
        .count()
      assert(bad == 0L,
        s"$bad documents in $dir have empty or non-ASCII text; the mm_decode* raw oracles assume neither")
    }
  }

  test("pipe_pii_scrub: planted PII found and redacted; scrub is idempotent") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.pipePiiScrub(spark, Sf).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 7 == 0) {
        assert(r.getAs[Long]("n_emails") == 1L && r.getAs[Long]("n_ips") == 1L,
          s"doc $id: planted contact line not fully detected")
      } else {
        assert(r.getAs[Long]("n_emails") == 0L && r.getAs[Long]("n_ips") == 0L,
          s"doc $id: phantom PII in clean text")
      }
    }
    // idempotent: redacting already-redacted text changes nothing —
    // the replacement tokens must not themselves match the patterns
    import spark.implicits._
    val once = Seq("reach user7@example.com at 10.1.2.3 ok").toDF("text")
      .select(regexp_replace(regexp_replace(col("text"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>").as("clean"))
    val c1 = once.collect()(0).getString(0)
    val c2 = once.select(regexp_replace(regexp_replace(col("clean"),
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>").as("c2"))
      .collect()(0).getString(0)
    assert(c1 == "reach <EMAIL> at <IP> ok" && c2 == c1)
  }

  test("pipe_decontaminate_bloom matches the exact broadcast formulation row-for-row") {
    val exact = TextAnalysis.pipeDecontaminate(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val bloom = TextAnalysis.pipeDecontaminateBloom(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(bloom == exact)
    assert(exact.exists(_._2), "contamination fixture is vacuous — no contaminated docs")
    // the probe must be Spark's codegen'd bloom expression, not a UDF
    val plan = TextAnalysis.pipeDecontaminateBloom(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
  }

  test("text_repetition invariants and a hand-checked document") {
    val rows = TextAnalysis.textRepetition(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      val (nw, ndw) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_distinct_words"))
      assert(ndw <= nw)
      assert(r.getAs[Double]("dup_word_frac") >= 0.0 && r.getAs[Double]("dup_word_frac") <= 1.0)
      assert(r.getAs[Double]("top_bigram_frac") >= 0.0 && r.getAs[Double]("top_bigram_frac") <= 1.0)
      assert(r.getAs[Long]("n_bigrams") == math.max(nw - 1, 0))
    }
    // naive recompute on one document
    val doc = Tables.documents(spark, Sf).orderBy("doc_id").select("text").head.getString(0)
    val words = doc.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val bgs = words.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val expected = rows.minBy(_.getAs[Long]("doc_id"))
    assert(expected.getAs[Long]("n_words") == words.length)
    assert(expected.getAs[Long]("n_distinct_words") == words.distinct.length)
    if (bgs.nonEmpty) {
      val top = bgs.groupBy(identity).values.map(_.size).max
      assert(math.abs(expected.getAs[Double]("top_bigram_frac") -
        BigDecimal(top.toDouble / bgs.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("pipe_lang_sampling_weights: q sums to 1, temperature flattens toward uniform") {
    val rows = graft.operators.TextAnalysis.pipeLangSamplingWeights(spark, Sf).collect()
    val ps = rows.map(_.getAs[Double]("p"))
    val qs = rows.map(_.getAs[Double]("q"))
    assert(math.abs(ps.sum - 1.0) < 1e-3)
    assert(math.abs(qs.sum - 1.0) < 1e-3)
    // alpha < 1 compresses the share spread: the flattened max/min
    // ratio must be strictly inside the raw ratio, and per-language
    // order is preserved
    assert(qs.max / qs.min < ps.max / ps.min)
    rows.foreach { r =>
      val w = r.getAs[Double]("weight")
      // weight = q/p exactly (within the stored rounding)
      assert(math.abs(w - r.getAs[Double]("q") / r.getAs[Double]("p")) < 1e-2, r.toString)
    }
  }

  test("pipe_corpus_shuffle: deterministic, conserving, and genuinely permuting") {
    val rows = TextAnalysis.pipeCorpusShuffle(spark, Sf).collect()
    val again = TextAnalysis.pipeCorpusShuffle(spark, Sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)),
      "manifest must be bit-identical across runs")
    val docs = Tables.documents(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs,
      "every document lands in exactly one shard")
    // hash-random sharding: all shards populated and roughly balanced
    assert(rows.length == 8, s"expected 8 shards, got ${rows.length}")
    val sizes = rows.map(_.getAs[Long]("n_docs"))
    assert(sizes.max < 3 * sizes.min,
      s"shard sizes implausibly skewed for a hash split: ${sizes.mkString(",")}")
    // the order-sensitive checksum differs from the doc_id-ordered
    // one: the md5 key really permutes within shards
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val keyed = Tables.documents(spark, Sf)
      .select(col("doc_id"),
        md5(concat_ws(":", col("doc_id"), lit(42))).as("skey"))
      .withColumn("shard",
        pmod(conv(substring(col("skey"), 1, 15), 16, 10).cast("long"), lit(8L)))
    val idOrdered = keyed
      .withColumn("pos",
        row_number().over(Window.partitionBy("shard").orderBy("doc_id")).cast("long"))
      .groupBy("shard")
      .agg(sum(col("pos") * pmod(col("doc_id"), lit(1000003L))).as("cs"))
      .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Long]("cs")).toMap
    val permuted = rows.map(r => r.getAs[Long]("shard") -> r.getAs[Long]("perm_checksum")).toMap
    assert(permuted != idOrdered,
      "shuffled order must not equal doc_id order")
  }

  test("pipe_shuffle_pack: conserving, contiguous bins, and a different packing than doc_id order") {
    val rows = TextAnalysis.pipeShufflePack(spark, Sf).collect()
    val docs = Tables.documents(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs,
      "every document lands in exactly one bin")
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, grp) =>
      val bins = grp.map(_.getAs[Long]("bin")).sorted
      assert(bins.head == 0L && bins.zipWithIndex.forall { case (b, i) => b == i },
        s"shard $shard bins not contiguous: ${bins.mkString(",")}")
    }
    // the shuffled walk must yield a different (shard, bin) manifest
    // than the doc_id-ordered packer — same conservation laws, new
    // order (shard derivation also differs: hash-random vs pmod)
    val idOrdered = TextAnalysis.pipePackSequences(spark, Sf).collect()
    assert(rows.map(_.toString).toSet != idOrdered.map(_.toString).toSet,
      "shuffled packing should not reproduce doc_id-order packing")
  }

  test("pipe_pack_sequences: bins contiguous per shard, token totals conserved, fill sane") {
    val rows = graft.operators.TextAnalysis.pipePackSequences(spark, Sf).collect()
    val totalPacked = rows.map(_.getAs[Long]("n_tokens")).sum
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val docs = Tables.documents(spark, Sf).count()
    assert(totalDocs == docs, "every document lands in exactly one bin")
    // Contiguity and closed-bin fullness hold only while no single
    // document exceeds seqLen (an oversized doc skips bins and leaves
    // its successor under-full) — true of this corpus; guard so the
    // spec degrades to the conservation checks, not a false failure,
    // if the data generator ever emits longer documents.
    import org.apache.spark.sql.functions.{col, max, regexp_count, lit}
    val maxTok = Tables.documents(spark, Sf)
      .agg(max(regexp_count(col("text"), lit("\\S+")))).collect()(0).getInt(0)
    if (maxTok <= 2048) {
      rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, grp) =>
        val bins = grp.map(_.getAs[Long]("bin")).sorted
        // contiguous from 0: a bin only opens when the running sum
        // reaches it, so no gaps are possible
        assert(bins.head == 0L && bins.zipWithIndex.forall { case (b, i) => b == i },
          s"shard $shard bins not contiguous: ${bins.mkString(",")}")
      }
      // every bin except possibly a shard's last must reach the 2048
      // boundary (its closing doc crosses it): fill >= 1 there
      rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, grp) =>
        val lastBin = grp.map(_.getAs[Long]("bin")).max
        grp.filter(_.getAs[Long]("bin") != lastBin).foreach { r =>
          assert(r.getAs[Double]("fill") >= 1.0,
            s"shard $shard bin ${r.get(1)} closed under-full: $r")
        }
      }
    }
    assert(totalPacked > 0)
  }

  test("text_vocab_stats: hapax ≤ types ≤ tokens, ttr consistent") {
    TextAnalysis.textVocabStats(spark, Sf).collect().foreach { r =>
      val (tok, ty, hap) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"), r.getAs[Long]("n_hapax"))
      assert(hap <= ty && ty <= tok)
      assert(math.abs(r.getAs[Double]("type_token_ratio") -
        BigDecimal(ty.toDouble / tok).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("text_bm25: per-query ranks dense, scores descending, hits contain a query term") {
    val rows = TextAnalysis.textBm25(spark, Sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == TextAnalysis.bm25Queries.map(_._1.toLong).toSet)
    byQ.foreach { case (_, grp) =>
      val sorted = grp.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to grp.length).toSeq)
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores not descending")
      assert(scores.forall(_ > 0.0))
    }
    // every returned doc must actually contain ≥1 term of its query
    val terms = TextAnalysis.bm25Queries.toMap
    val texts = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").toLowerCase).toMap
    rows.foreach { r =>
      val qts = terms(r.getAs[Long]("qid").toInt)
      val toks = texts(r.getAs[Long]("doc_id")).split("\\s+").toSet
      assert(qts.exists(toks.contains), s"doc without query term ranked: $r")
    }
  }

  test("pipe_gopher_gate: mask consistent with keep; firing rules non-vacuous") {
    val rows = TextAnalysis.pipeGopherGate(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("reasons") == 0L))
      assert(r.getAs[Long]("reasons") < 64L)
    }
    val keeps = rows.count(_.getAs[Boolean]("keep"))
    assert(keeps > 0 && keeps < rows.length, s"gate is vacuous: $keeps/${rows.length}")
    // the corpus-firing bits (1: length, 4: alpha, 8: stopword) each
    // reject at least one doc — the mask is a real multi-rule signal,
    // not one rule wearing six names
    val union = rows.map(_.getAs[Long]("reasons")).reduce(_ | _)
    Seq(1L, 4L, 8L).foreach(b => assert((union & b) == b, s"bit $b never fired"))
    assert(rows.map(_.getAs[Long]("reasons")).distinct.length >= 3,
      "fewer than 3 distinct reason patterns")
  }

  test("pipe_span_ingest: gate-after-cut flips verdicts the raw gate cannot see; evidence consistent") {
    import org.apache.spark.sql.functions._
    val ingest = TextAnalysis.pipeSpanIngest(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val rawGate = TextAnalysis.pipeGopherGate(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val spanOut = graft.operators.Dedup.pipeSpanDedup(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(ingest.keySet == rawGate.keySet && ingest.keySet == spanOut.keySet)
    // the cut evidence rides through the composition unchanged —
    // same spans, same chars, same certified cleaned text
    for ((id, r) <- ingest) {
      val sd = spanOut(id)
      assert(r.getAs[Long]("n_spans_cut") == sd.getAs[Long]("n_spans_cut") &&
        r.getAs[Long]("n_chars_cut") == sd.getAs[Long]("n_chars_cut") &&
        r.getAs[String]("clean_md5") == sd.getAs[String]("clean_md5"),
        s"doc $id: composition's cut evidence diverges from pipe_span_dedup")
      assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("reasons") == 0L))
    }
    // the POINT of gate-after-cut: at least one document's verdict
    // changes once its repeated spans are gone (a doc whose unique
    // remainder falls under the word floor, or whose repetition
    // signals were carried by the duplicated text)
    val flipped = ingest.count { case (id, r) =>
      r.getAs[Boolean]("keep") != rawGate(id) }
    info(s"verdicts flipped by cutting: $flipped/${ingest.size}")
    assert(flipped > 0, "gate-after-cut never disagrees with the raw gate — composition vacuous")
    // uncut docs must gate identically to the raw gate
    for ((id, r) <- ingest if r.getAs[Long]("n_spans_cut") == 0L &&
           r.getAs[Boolean]("is_ascii"))
      assert(r.getAs[Boolean]("keep") == rawGate(id),
        s"doc $id: uncut doc's verdict differs from the raw gate")
  }

  test("pipe_sketch_rollup: union-rolled and direct sketches both within bound of exact") {
    val rows = TextAnalysis.pipeSketchRollup(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_distinct") > 1000L,
        s"cardinality too small to exercise the sketch: $r")
      assert(r.getAs[Boolean]("sketch_ok"), s"sketch estimate out of bound: $r")
    }
  }

  test("pipeSketchRollupProd equals the harness's certified union estimate (HLL idempotence)") {
    // the prod form skips the harness's pre-distinct and runs the HLL
    // partials on the RAW shingle stream — legitimate ONLY because HLL
    // updates are idempotent per value; assert it on the output, not
    // just the shared construction
    val harness = TextAnalysis.pipeSketchRollup(spark, Sf).collect()
      .map(r => r.getAs[String]("lang")).toSet
    val prod = TextAnalysis.pipeSketchRollupProd(spark, Sf).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("est_union")).toMap
    assert(prod.keySet == harness, "prod form covers a different language set")
    // recompute the harness's own union estimate per lang and compare
    // exactly — same sketches, same merge, distinct vs raw input
    import org.apache.spark.sql.functions._
    val harnessEst = Tables.documents(spark, Sf)
      .select(col("lang"), col("source"),
        explode(graft.functions.VectorFunctions.ngram_hashes(lower(col("text")), 12)).as("sh"))
      .distinct()
      .groupBy("lang", "source").agg(expr("hll_sketch_agg(sh)").as("sk"))
      .groupBy("lang")
      .agg(round(expr("hll_sketch_estimate(hll_union_agg(sk))"), 4).as("est"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Double]("est")).toMap
    assert(prod == harnessEst,
      s"raw-stream HLL diverged from pre-distinct HLL: $prod vs $harnessEst")
  }

  test("pipe_contamination_frac: frac>0 iff boolean decontaminate flags; policy consistent") {
    val frac = TextAnalysis.pipeContaminationFrac(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Long]("n_shingles"), r.getAs[String]("action"))).toMap
    val flags = TextAnalysis.pipeDecontaminate(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(frac.keySet == flags.keySet)
    frac.foreach { case (id, (hits, total, action)) =>
      assert((hits > 0) == flags(id), s"doc $id: frac/flag disagree")
      val r = hits.toDouble / total
      val expect = if (r >= 0.5) "drop" else if (r >= 0.05) "trim" else "keep"
      assert(action == expect, s"doc $id: action $action vs ratio $r")
    }
    // the graded signal must actually grade: some contaminated docs
    // above the trim line, and clean docs present
    assert(frac.values.exists(_._3 != "keep") && frac.values.exists(_._3 == "keep"))
  }

  test("mm_audio_features: windows match the closed-form PCM; corrupt payload decodes to None") {
    val rows = Multimodal.mmAudioFeatures(spark, Sf).collect()
    assert(rows.nonEmpty)
    // recompute one doc's features from the sample formula
    val id = rows.head.getAs[Long]("doc_id")
    val n = (16 + id % 16).toInt
    val step = (1 + id % 7).toInt
    val samples = (0 until n).map(i => ((i.toLong * step * 257 + id) % 65536L) - 32768L)
    val expected = samples.zipWithIndex.groupBy(_._2 / 8).toSeq.sortBy(_._1).map { case (w, grp) =>
      val vs = grp.map(_._1)
      val zc = vs.zip(vs.tail).count { case (a, b) => (a >= 0) != (b >= 0) }
      (w.toLong, vs.length.toLong, vs.map(v => v * v).sum, zc.toLong, vs.map(math.abs).max)
    }
    val got = rows.filter(_.getAs[Long]("doc_id") == id).sortBy(_.getAs[Long]("win"))
      .map(r => (r.getAs[Long]("win"), r.getAs[Long]("n"), r.getAs[Long]("sum_sq"),
        r.getAs[Long]("zc"), r.getAs[Long]("peak"))).toSeq
    assert(got == expected, s"doc $id features diverge from the closed form")
    // the real codec is actually in the loop: corrupt bytes must not decode
    assert(Multimodal.decodePcmSamples("RIFFgarbage".getBytes).isEmpty)
    val valid = Multimodal.decodePcmSamples(Multimodal.wavBytes(0L))
    assert(valid.exists(_.length == 16))
  }

  test("pipe_split_train_val: proportions near 90/5/5 and assignment is corpus-independent") {
    val rows = TextAnalysis.pipeSplitTrainVal(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val n = rows.size.toDouble
    val frac = rows.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.90) < 0.06, s"train frac ${frac("train")}")
    assert(frac.getOrElse("val", 0.0) > 0.0 && frac.getOrElse("test", 0.0) > 0.0)
    // the production property: membership is a pure function of the
    // doc, so a grown/shrunk corpus never reassigns — simulate by
    // recomputing the same hash on a half-corpus view
    import org.apache.spark.sql.functions._
    val half = Tables.documents(spark, Sf).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(concat(doc_id, ':split')), 1, 15), 16, 10) as bigint) % 100").as("bucket"))
      .withColumn("split", when(col("bucket") < 90, "train")
        .when(col("bucket") < 95, "val").otherwise("test"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
    half.foreach { case (id, sp) => assert(rows(id) == sp, s"doc $id reassigned on corpus change") }
  }

  test("pipe_heavy_hitters_rollup: source-partial rollup as good as the direct sketch") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.pipeHeavyHittersRollup(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("direct_ok"), s"direct sketch missed top-k: $r")
      assert(r.getAs[Boolean]("rolled_ok"), s"combined rollup missed top-k: $r")
    }
    // the exact k-th count the flags are judged against, recomputed
    val kth = Tables.documents(spark, Sf)
      .select(col("lang"),
        explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("c").desc, col("t"))))
      .filter(col("rk") === 5)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("c")).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("kth_cnt") == kth(r.getAs[String]("lang"))))
  }

  test("pipe_dataset_card (fused single-pass) equals the composed gates' own rates") {
    import org.apache.spark.sql.functions._
    val card = TextAnalysis.pipeDatasetCard(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val n = Tables.documents(spark, Sf).count().toDouble
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the card's whole pitch: its rates ARE the real operators' rates
    assert(card("n_docs") == n)
    assert(card("quality_pass_rate") ==
      r4(TextAnalysis.pipeQualityFilter(spark, Sf).count() / n))
    assert(card("gopher_pass_rate") ==
      r4(TextAnalysis.pipeGopherGate(spark, Sf).collect()
        .count(_.getAs[Boolean]("keep")) / n))
    assert(card("exact_dup_rate") ==
      r4(1.0 - Dedup.dedupExact(spark, Sf).count() / n))
    assert(card("pii_contact_rate") ==
      r4(TextAnalysis.pipePiiScrub(spark, Sf).collect()
        .count(r => r.getAs[Long]("n_emails") + r.getAs[Long]("n_ips") > 0) / n))
    val langCounts = Tables.documents(spark, Sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langCounts.foreach { case (lang, c) =>
      assert(card(s"docs_lang_$lang") == c.toDouble)
    }
  }

  test("pipe_chunk_dedup: keeper key is injective beyond the old packed-key range (doc_id > 2^43)") {
    // the pre-r10 arithmetic pack (doc_id·2²⁰ + chunk_id) overflowed
    // Long for doc_id ≥ 2⁴³ and collided across docs once chunk_id
    // crossed 2²⁰; the struct-min keeper must order these correctly.
    // Synthetic corpus: two huge-id docs sharing a chunk payload, ids
    // chosen so the OLD pack would have inverted the keeper (overflow
    // makes the larger doc_id's packed key negative, thus "smaller").
    import spark.implicits._
    val big1 = (1L << 44) + 7L        // would-be pack overflows Long
    val big2 = (1L << 44) + 9L
    val shared = (1 to 64).map(i => s"tok$i").mkString(" ")
    withTempDir("graft-chunk-ovf") { tmp =>
      val dir = tmp.toString
      Seq((big2, shared), (big1, shared), (5L, "unique words only here"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = TextAnalysis.pipeChunkDedup(spark, dir).collect()
      val sharedRows = rows.filter(r => r.getAs[Long]("doc_id") >= big1)
      assert(sharedRows.length == 2)
      val keeper = sharedRows.filterNot(_.getAs[Boolean]("is_dup"))
      assert(keeper.map(_.getAs[Long]("doc_id")).toSeq == Seq(big1),
        "keeper must be the lexicographically smallest (doc_id, chunk_id), " +
          "independent of any packed-key overflow")
      assert(sharedRows.filter(_.getAs[Boolean]("is_dup"))
        .map(_.getAs[Long]("doc_id")).toSeq == Seq(big2))
    }
  }

  test("dedup_keep_best: one keeper per cluster, keeper has max words (ties min id)") {
    val rows = Dedup.dedupKeepBest(spark, Sf).collect()
    val base = Dedup.dedupClusters(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // same clustering as dedup_clusters, different survivor policy
    rows.foreach(r => assert(base(r.getAs[Long]("doc_id")) == r.getAs[Long]("cluster_id")))
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, grp) =>
      val keepers = grp.filter(_.getAs[Boolean]("keep"))
      assert(keepers.length == 1, s"cluster $cid keepers: ${keepers.length}")
      val best = grp.maxBy(r => (r.getAs[Long]("n_words"), -r.getAs[Long]("doc_id")))
      assert(keepers.head.getAs[Long]("doc_id") == best.getAs[Long]("doc_id"))
    }
  }
}
