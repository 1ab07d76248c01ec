package graft.tools

import graft.Tables
import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic generator of ADVERSARIAL quality-gate negatives —
  * fluent-looking template gibberish that PASSES every Gopher rule
  * (word count, mean word length, alpha ratio, stopword ratio,
  * repetition bounds) while being exactly the text a trained
  * classifier must reject. This is the curated bad class a production
  * quality classifier is fit against (CCNet trains Wikipedia-vs-crawl,
  * not rule-vs-rule); the rule gate provably cannot catch these —
  * the classifier's word-identity features can. Shared by
  * [[FitQualityWeights]] (training negatives) and the spec (held-out
  * seeds → planted docs the gate keeps and the classifier rejects). */
object QualityAugment {

  private val Syllables = Array(
    "bla", "zor", "quv", "nix", "pom", "vek", "tul", "gry",
    "sna", "wub", "fex", "dro", "kib", "yaz", "mep", "ulch")
  private val Stops = Array("the", "and", "of", "to", "in", "is")

  /** 31-bit LCG (glibc constants) — the repo's deterministic-synth
    * discipline: every generated doc is a pure function of its seed.
    * Draws come from the HIGH bits (>>> 16): a power-of-two-modulus
    * LCG's bit k cycles with period 2^(k+1), so low-bit draws like
    * `next() % 16` repeat a handful of values and a distinct-word
    * loop over them never fills. */
  private final class Lcg(seed: Long) {
    private var s = seed & 0x7fffffffL
    def next(): Long = { s = (s * 1103515245L + 12345L) & 0x7fffffffL; s >>> 16 }
  }

  /** 150 pronounceable 2–3-syllable nonsense words (6–9 letters, all
    * alpha — mean word length and alpha ratio inside Gopher bounds). */
  val GibberishVocab: IndexedSeq[String] = {
    val g = new Lcg(42L)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 150) {
      val n = (2 + g.next() % 2).toInt
      out += Seq.fill(n)(Syllables((g.next() % 16).toInt)).mkString
    }
    out.toIndexedSeq
  }

  /** One gibberish document: `nWords` tokens drawn from
    * [[GibberishVocab]] with a stopword every 10th position (stopword
    * ratio 0.1 ≥ 0.01), high distinct count (dup fraction well under
    * 0.65), no dominant bigram. Passes the full Gopher gate —
    * asserted by [[FitQualityWeights]] before the docs enter the fit. */
  def gibberishDoc(seed: Long, nWords: Int = 60): String = {
    val g = new Lcg(seed)
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb += ' '
      if (i % 10 == 3) sb ++= Stops((g.next() % 6).toInt)
      else sb ++= GibberishVocab((g.next() % 150).toInt)
      i += 1
    }
    sb.toString
  }

  /** Training-negative seeds (the spec plants docs from seeds ≥ 5000,
    * held out of the fit by construction). */
  val TrainSeeds: Range = 1000 until 1500
}

/** Offline trainer for the frozen QUALITY-CLASSIFIER weights (dev
  * tool) — the [[FitPqCodebook]] pattern for the model-based quality
  * gate: fit once, freeze as constants, score map-only forever.
  *
  * Model: logistic regression over [[TextAnalysis.classifierFeatureFrame]]'s
  * presence-coded hashed features (word unigrams + bigrams +
  * quantized structural metadata tokens, D = 2048). Training set:
  * the sf0.1 corpus labeled by the repo's own Gopher gate (the
  * rule-based teacher) PLUS [[QualityAugment]]'s 500 rule-passing
  * gibberish negatives (the curated bad class rules cannot catch —
  * the CCNet-style "crawl" side of the fit). Optimizer: full-batch
  * gradient descent, fixed epochs/lr/L2, no RNG — byte-for-byte
  * reproducible. The L2 term is what forces weight mass onto the
  * widely-shared structural cells instead of per-document word
  * memorization (measured: without it test agreement collapses to
  * ~0.72 while train sits at 1.0).
  *
  * Prints train/held-out agreement vs the Gopher verdicts and the
  * gibberish rejection rate, then writes
  * `operators/QualityWeights.scala` (chunked array defs, the
  * PqCodebook bytecode-limit discipline). */
object FitQualityWeights {

  private val Epochs = 4000
  private val Lr = 1.0
  private val L2 = 1e-3

  def main(args: Array[String]): Unit = {
    val trainDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("src/main/scala/graft/operators/QualityWeights.scala")
    val spark = graft.GraftSession.local(32)
    val d = TextAnalysis.ClassifierDim

    def featRows(docs: DataFrame): Array[(Array[Int], Boolean)] =
      TextAnalysis.classifierFeatureFrame(docs)
        .select(col("doc_id"), col("buckets"), col("keep"))
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getSeq[Long](1).map(_.toInt).toArray, r.getBoolean(2)))

    val natural = featRows(Tables.documents(spark, trainDir))
    val gibber = QualityAugment.TrainSeeds.map(s => QualityAugment.gibberishDoc(s.toLong))
    import spark.implicits._
    val gibberDf = gibber.zipWithIndex
      .map { case (t, i) => (10000000L + i, t) }.toDF("doc_id", "text")
    // the adversarial premise: every training negative PASSES the gate
    val gateKeeps = TextAnalysis.gopherGateFrame(gibberDf)
      .filter(col("keep")).count()
    require(gateKeeps == gibber.size.toLong,
      s"gibberish negatives must pass the Gopher gate: $gateKeeps/${gibber.size}")
    val synth = featRows(gibberDf).map { case (b, _) => (b, false) }

    val rows = natural ++ synth
    val n = rows.length
    val y = rows.map(r => if (r._2) 1.0 else 0.0)
    val bks = rows.map(_._1)

    // full-batch logistic GD, deterministic
    val w = new Array[Double](d)
    var bias = 0.0
    var ep = 0
    while (ep < Epochs) {
      val gw = new Array[Double](d)
      var gb = 0.0
      var i = 0
      while (i < n) {
        var z = bias
        val b = bks(i); var j = 0
        while (j < b.length) { z += w(b(j)); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-math.max(-30.0, math.min(30.0, z))))
        val g = p - y(i)
        j = 0
        while (j < b.length) { gw(b(j)) += g; j += 1 }
        gb += g
        i += 1
      }
      var k = 0
      while (k < d) { w(k) -= Lr * (gw(k) / n + L2 * w(k)); k += 1 }
      bias -= Lr * (gb / n)
      ep += 1
    }

    def agree(rs: Array[(Array[Int], Boolean)]): Double = {
      val ok = rs.count { case (b, keep) =>
        var z = bias; var j = 0
        while (j < b.length) { z += w(b(j)); j += 1 }
        (z > 0.0) == keep
      }
      ok.toDouble / rs.length
    }
    println(f"train(natural sf0.1) agreement = ${agree(natural)}%.4f")
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dd =>
      println(f"held-out $dd agreement = ${agree(featRows(Tables.documents(spark, dd)))}%.4f")
    }
    val heldGib = (5000 until 5020).map { s =>
      val t = QualityAugment.gibberishDoc(s.toLong)
      Seq((100000000L + s, t))
    }.flatten.toDF("doc_id", "text")
    val rej = featRows(heldGib).count { case (b, _) =>
      var z = bias; var j = 0
      while (j < b.length) { z += w(b(j)); j += 1 }
      z <= 0.0
    }
    println(s"held-out gibberish rejected = $rej/20")

    // emit chunked constants (PqCodebook 64-KB-bytecode discipline)
    val chunk = 256
    val defs = new StringBuilder
    val refs = w.grouped(chunk).zipWithIndex.map { case (grp, ci) =>
      defs ++= s"  private def w$ci: Array[Double] = Array(\n    " +
        grp.map(java.lang.Double.toString).grouped(8).map(_.mkString(", "))
          .mkString(",\n    ") + ")\n\n"
      s"w$ci"
    }.toSeq
    val src =
      s"""package graft.operators
         |
         |/** Frozen quality-classifier weights: logistic regression over
         |  * [[TextAnalysis.classifierFeatureFrame]]'s presence-coded hashed
         |  * features (D = ${d}), fit offline by
         |  * [[graft.tools.FitQualityWeights]] on the sf0.1 corpus labeled by
         |  * the Gopher gate plus ${QualityAugment.TrainSeeds.size} rule-passing gibberish negatives
         |  * (full-batch GD, epochs = $Epochs, lr = $Lr, L2 = $L2, no RNG).
         |  * Shipped as constants so scoring is a map-only literal fold.
         |  *
         |  * GENERATED by FitQualityWeights — edit by re-running that main.
         |  */
         |object QualityWeights {
         |  val D: Int = $d
         |  val Bias: Double = ${java.lang.Double.toString(bias)}
         |
         |${defs.toString}  val W: Array[Double] = ${refs.mkString(" ++ ")}
         |  require(W.length == D)
         |}
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), src)
    println(s"wrote $out")
    spark.stop()
  }
}
