package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, SparkEntry, Tables}
import graft.ml.{DecisionTree, FeatureSpec, FeatureVectorizer}

/** Entry point of the benchmark JVM. `run.py` builds the classes,
  * prepares the datasets and calls one of these modes:
  *
  *  - `datagen --src <dir> --out <dir> --reps <n>`
  *  - `run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --data <dir> --work <dir> --expected <file> --out <file>
  *     [--trace-out <file>] [--pin]`
  *  - `selftest --data <dir> --work <dir>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("datagen") => Datagen.run(opts("src"), opts("out"), opts("reps").toInt)
      case Some("run") => Bench.run(opts)
      case Some("selftest") => SelfTest.run(opts)
      case other => sys.error(s"unknown mode $other")
    }
    // leftover non-daemon threads of a stopped context must not hold
    // the process open
    System.exit(0)
  }
}

object Conf {
  val Cores = 4

  def session(work: Path): SparkSession = {
    Files.createDirectories(work.resolve("local"))
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.executor.heartbeatInterval", "20s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** A timed call: one registry invocation, or one step of the model
  * workload. Times are nanoseconds. */
final case class Call(pass: Int, name: String, kind: String, span: Long,
                      wall: Long, build: Long, action: Long, ok: Boolean,
                      gcMs: Long, cache: CacheState, counters: Option[Counters])

final case class CacheState(frames: Long, cachedParts: Long, totalParts: Long, bytes: Long)

/** `passS` is a pass's nominal wall time on a 4-core host: a run of
  * `--seconds s` makes ceil(s / passS) timed passes, the same number on
  * every run, so runs that warm up at different speeds still take their
  * medians over the same passes. `warm` untimed passes run in the timed
  * session first, for code the set-up rounds leave still warming. */
sealed trait Workload { def name: String; def dataset: String; def passS: Double; def warm: Int }
/** Registry entries, each invoked as `SparkEntry.queries(name)` plus a
  * noop write. */
final case class Entries(name: String, dataset: String, passS: Double, warm: Int,
                         entries: Seq[String]) extends Workload
/** The paper's trainer/predictor pair: fit once per pass, reload, then
  * score seeded batches one request after another. */
final case class Scoring(name: String, dataset: String, passS: Double, warm: Int,
                         requests: Int, batches: Int, batchRows: Int) extends Workload

object Workloads {
  val all: Seq[Workload] = Seq(
    // Driver-bound curation entries on the base set: the span dedup
    // broadcast site, a persisted index table built once per session,
    // LSH search, a cached subtree and the feature vectorizer. Its
    // calls still speed up after the three set-up passes.
    Entries("curation_sf0.01", "base", passS = 3.5, warm = 1,
      Seq("pipe_span_dedup", "sim_ivf_ann_persisted", "sim_lsh_ann", "pipe_quality_filter",
        "ml_feature_vectorize")),
    // The paper's trainer and predictor on the 10x lineitem: an
    // executor-bound fit and driver-bound scoring requests.
    Scoring("ml_score", "x10", passS = 4.7, warm = 0, requests = 10, batches = 8, batchRows = 5000))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}

/** Owns the session, the listeners and the in-memory span log. */
final class Harness {
  var spark: SparkSession = _
  val layers = new LayerListener
  private var plans: PlanListener = _
  @volatile var tracing = false
  val spans = ArrayBuffer.empty[Span]
  private var confBaseline: Map[String, String] = Map.empty

  def open(dir: Path): Unit = {
    if (spark != null) spark.stop()
    spark = Conf.session(dir)
    confBaseline = spark.conf.getAll
  }

  def traceOn(): Unit = if (!tracing) {
    drain()
    spark.sparkContext.addSparkListener(layers)
    plans = new PlanListener(layers)
    spark.listenerManager.register(plans)
    tracing = true
  }

  def traceOff(): Unit = if (tracing) {
    drain()
    spark.sparkContext.removeSparkListener(layers)
    spark.listenerManager.unregister(plans)
    layers.take()
    tracing = false
  }

  /** Wait until the listener bus has delivered every queued event. The
    * method is package-private in Scala but public in bytecode. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Runs `body` as a span of `layer` under `parent`; jobs it starts are
    * tagged with the span's id. */
  def span[T](layer: String, name: String, parent: Long)(body: Long => T): (T, Long, Long) = {
    val id = Spans.nextId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerListener.ParentKey)
    sc.setLocalProperty(LayerListener.ParentKey, id.toString)
    val t0 = Clock.now()
    try {
      val r = body(id)
      (r, id, Clock.now() - t0)
    } finally {
      val t1 = Clock.now()
      sc.setLocalProperty(LayerListener.ParentKey, prev)
      if (tracing) spans.synchronized { spans += Span(id, parent, layer, name, t0, t1) }
    }
  }

  /** Every call starts with nothing cached. */
  def assertClean(): Unit = {
    val tracked = CacheRegistry.trackedCount
    val rdds = spark.sparkContext.getPersistentRDDs.size
    if (tracked != 0 || rdds != 0)
      throw new IllegalStateException(s"call would start with cached state: $tracked tracked frames, $rdds cached RDDs")
  }

  /** Release everything the call cached and record what it held; with
    * `gc`, collect garbage outside the timed window so the next call
    * starts from the same heap. */
  def release(gc: Boolean = true): CacheState = {
    val sc = spark.sparkContext
    val frames = CacheRegistry.trackedCount
    val infos = sc.getRDDStorageInfo
    val total = sc.getPersistentRDDs.values.map(r => try r.partitions.length.toLong catch { case NonFatal(_) => 0L }).sum
    val state = CacheState(frames, infos.map(_.numCachedPartitions.toLong).sum, total,
      infos.map(i => i.memSize + i.diskSize).sum)
    CacheRegistry.releaseAll(blocking = true)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val now = spark.conf.getAll
    if (now != confBaseline) (now.keySet ++ confBaseline.keySet).foreach { k =>
      confBaseline.get(k) match {
        case Some(v) => if (now.get(k) != Some(v)) spark.conf.set(k, v)
        case None => try spark.conf.unset(k) catch { case NonFatal(_) => () }
      }
    }
    if (gc) System.gc()
    state
  }

  /** Finish a call: release, and when tracing, take its counters. */
  def finish(pass: Int, name: String, kind: String, id: Long, wall: Long, build: Long,
             action: Long, ok: Boolean, gc0: Long): Call = {
    val gcMs = Jvm.gcMillis - gc0
    // a full GC per scoring request would cost as much as the request
    if (kind != "score") Jvm.sampleLiveHeap()
    val cache = release(gc = kind != "score")
    val counters = if (tracing) { drain(); Some(layers.take()) } else None
    Call(pass, name, kind, id, wall, build, action, ok, gcMs, cache, counters)
  }
}

object Bench {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of the standard percentiles that leaves at least ten
    * samples above it, with its value; None below 20 samples. */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)))
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  val SetupRounds = 3
  val MinPasses = 3

  def run(opts: Map[String, String]): Unit = {
    val workload = Workloads(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val pin = opts.get("pin").contains("1")
    val dir = Paths.get(opts("data")).resolve(workload.dataset).toString
    val work = Paths.get(opts("work"))
    val expectedFile = Paths.get(opts("expected"))
    val h = new Harness
    val reg = SparkEntry.queries

    val ml = workload match {
      case s: Scoring => Some(new ModelSteps(h, s, dir, seed))
      case _ => None
    }
    def pass(p: Int): Seq[Call] = {
      val cs = workload match {
        case e: Entries =>
          new scala.util.Random(seed * 1000003L + p).shuffle(e.entries).map(n => invoke(h, reg, p, n, dir))
        case _ => ml.get.pass(p)
      }
      System.err.println(f"[perfbench] pass $p: ${cs.map(_.wall).sum / 1e9}%.3f s; " +
        cs.groupBy(_.name).map { case (n, xs) => f"$n ${xs.map(_.wall).sum / 1e9}%.3f" }.mkString(", "))
      cs
    }

    // Set-up: a fresh session with its own warehouse and local dir and
    // one warm-up pass, repeated; the timed section runs in the last round's
    // session. The scoring batches are staged once, in round 0.
    val setup = (0 until SetupRounds).map { r =>
      val t0 = System.nanoTime()
      val roundDir = work.resolve(s"round$r")
      h.open(roundDir)
      if (r == 0) ml.foreach(_.stage(work))
      pass(-1 - r)
      (System.nanoTime() - t0) / 1e9
    }
    (1 to workload.warm).foreach(i => pass(-10 - i))
    val processSetup = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val noiseBefore = (Jvm.calibrate(), Jvm.loadAverage())
    val calls = ArrayBuffer.empty[Call]
    val passWall = ArrayBuffer.empty[(Int, Boolean, Double)]
    val passes = math.max(MinPasses, math.ceil(seconds / workload.passS).toInt)
    Jvm.active = true
    val gcStart = Jvm.gcMillis
    // A traced run alternates untraced and traced passes, so the
    // difference between their medians is the tracing overhead.
    def count(traced: Boolean) = passWall.count(_._2 == traced)
    var p = 0
    while (count(false) < passes || trace && count(true) < passes) {
      val traced = trace && p % 2 == 1
      if (traced) h.traceOn() else h.traceOff()
      val cs = pass(p); calls ++= cs; passWall += ((p, traced, cs.map(_.wall).sum / 1e9)); p += 1
    }
    h.traceOff()
    Jvm.active = false
    val gcPauseTotal = (Jvm.gcMillis - gcStart) / 1e3
    val noiseAfter = (Jvm.calibrate(), Jvm.loadAverage())
    def mark(what: String): Unit = System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")
    mark("timed section done")

    // Correctness, outside the timed calls.
    val (checkFailures, checkNotes) = workload match {
      case e: Entries => checkEntries(h, reg, e, dir, seed, expectedFile, pin)
      case _ => ml.get.check(expectedFile, pin)
    }
    mark("check done")
    val attempted = calls.size
    val failed = calls.count(c => !c.ok || checkFailures.contains(c.name))

    val timedPasses = passWall.filterNot(_._2)
    // Each kind of call is summarised by its median over the untraced
    // timed passes, so one stalled call in one pass moves nothing; a
    // pass is then the sum of its calls at their medians.
    val timed = calls.filter(c => timedPasses.exists(_._1 == c.pass)).toSeq
    val perName = timed.groupBy(_.name).map { case (n, cs) => n -> median(cs.map(_.wall / 1e9)) }
    val perPass = timed.groupBy(_.name).map { case (n, cs) => n -> cs.size.toDouble / timedPasses.size }
    val passS = perName.map { case (n, m) => m * perPass(n) }.sum
    val callMs = timed.filter(c => c.kind == "invocation" || c.kind == "score").map(_.wall / 1e6)
    val callGeo = geomean(perName.filter { case (n, _) => n != "train" && n != "load" }.values.toSeq) * 1e3

    val e2e = Map(
      "setup_s" -> (median(setup), "s"),
      "pass_s" -> (passS, "s"),
      "call_geomean_ms" -> (callGeo, "ms"),
      "peak_heap_mb" -> (Jvm.peakBytes / 1048576.0, "MB"))

    val tail = tailPercentile(callMs)
    val diag = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "seed" -> seed, "passes" -> timedPasses.size,
      "calls" -> callMs.size, "setup_rounds_s" -> setup, "process_setup_s" -> processSetup,
      "failed_frac" -> failed.toDouble / attempted,
      "tail_percentile" -> tail.map(_._1), "tail_ms" -> tail.map(_._2),
      "check" -> checkNotes,
      "call_samples_s" -> timed.groupBy(_.name).map { case (n, cs) => n -> cs.map(_.wall / 1e9).sorted },
      "noise" -> Map("calib_before_s" -> noiseBefore._1, "calib_after_s" -> noiseAfter._1,
        "loadavg_before" -> noiseBefore._2, "loadavg_after" -> noiseAfter._2))
    workload match {
      case _: Entries =>
        diag("pass_s") = passS
        diag("query_geomean_s") = callGeo / 1e3
        diag("entry_median_s") = perName
      case _ =>
        diag("train_s") = perName("train")
        diag("score_p50_ms") = median(callMs)
        diag("score_samples") = callMs.size
    }

    val metrics: Map[String, (Double, String)] =
      if (!trace) e2e
      else {
        val tracedPasses = passWall.filter(_._2).map(_._1).toSet
        val untracedMedian = median(passWall.filterNot(_._2).map(_._3).toSeq)
        val layer = Layered.perPass(h, calls.filter(c => tracedPasses.contains(c.pass)).toSeq,
          passWall.filter(_._2).map(p => p._1 -> p._3).toMap)
        diag("gc_pause_total_s") = gcPauseTotal
        diag("cover_ok") = layer.metrics("trace.cover_min")._1 >= 0.95
        diag("counts_stable_across_passes") = layer.countsByPass.map(_ - "pass").distinct.size == 1
        Files.createDirectories(Paths.get(opts("trace-out")).getParent)
        Files.writeString(Paths.get(opts("trace-out")), Json.render(Map(
          "workload" -> workload.name, "seed" -> seed, "diag" -> diag,
          "per_pass" -> layer.perPassRows, "per_call" -> layer.perCall,
          "self_s_per_pass" -> layer.selfPerPass, "counts_by_pass" -> layer.countsByPass,
          "spans" -> (h.spans ++ h.layers.spans).map(s =>
            Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
              "start_ns" -> s.start, "end_ns" -> s.end))
        )) + "\n")
        layer.metrics ++ Map(
          "trace.overhead_s" -> (median(passWall.filter(_._2).map(_._3).toSeq) - untracedMedian, "s"))
      }

    h.spark.stop()
    mark("stopped")
    val out = Map(
      "correct" -> (checkFailures.isEmpty && failed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "diag" -> diag)
    Files.writeString(Paths.get(opts("out")), Json.render(out) + "\n")
  }

  /** One registry invocation: build the DataFrame, then write it to
    * noop so every output column is produced. */
  def invoke(h: Harness, reg: Map[String, (SparkSession, String) => DataFrame],
             pass: Int, name: String, dir: String): Call = {
    h.assertClean()
    val gc0 = Jvm.gcMillis
    var ok = true
    var build = 0L
    var action = 0L
    val (_, id, wall) = h.span("invocation", name, 0L) { inv =>
      try {
        val (df, _, b) = h.span("build", name, inv) { b =>
          h.layers.buildPhases.add(b)
          reg(name)(h.spark, dir)
        }
        build = b
        val (_, _, a) = h.span("action", name, inv) { _ =>
          df.write.mode("overwrite").format("noop").save()
        }
        action = a
      } catch {
        case NonFatal(e) =>
          ok = false
          System.err.println(s"[perfbench] $name failed: $e")
      }
    }
    h.finish(pass, name, "invocation", id, wall, build, action, ok, gc0)
  }

  def checkEntries(h: Harness, reg: Map[String, (SparkSession, String) => DataFrame], e: Entries,
                   dir: String, seed: Long, expectedFile: Path, pin: Boolean): (Set[String], Any) = {
    val expected = if (pin) Map.empty[String, Digest.Result]
      else Json.readDigests(Files.readString(expectedFile))
    val got = new scala.util.Random(seed).shuffle(e.entries).map { n =>
      val r = try Some(Digest.of(reg(n)(h.spark, dir))) catch { case NonFatal(ex) =>
        System.err.println(s"[perfbench] check of $n failed: $ex"); None }
      h.release()
      n -> r
    }
    if (pin) {
      Files.writeString(expectedFile, Json.render(got.sortBy(_._1).map { case (n, r) =>
        n -> Map("rows" -> r.map(_.rows).getOrElse(-1L), "digest" -> r.map(_.digest).getOrElse(""))
      }.to(scala.collection.immutable.ListMap)) + "\n")
    }
    val bad = got.filter { case (n, r) => pin && r.isEmpty || !pin && r != expected.get(n) }
    bad.foreach { case (n, r) => System.err.println(s"[perfbench] $n: got $r, expected ${expected.get(n)}") }
    (bad.map(_._1).toSet, Map("entries" -> got.size, "mismatched" -> bad.map(_._1)))
  }
}

/** The `ml_score` steps: assemble + fit/save, load, scoring requests. */
final class ModelSteps(h: Harness, val w: Scoring, dir: String, seed: Long) {
  val spec = FeatureSpec(include = Some(Seq("l_quantity", "l_discount", "l_tax")),
    labelField = "l_extendedprice")
  private var workDir: Path = _
  private def modelPath = workDir.resolve("model").toString
  private def batchPath(b: Int) = workDir.resolve(s"batches/batch=$b").toString
  private val used = scala.collection.mutable.Set.empty[Int]
  private var lastModel: org.apache.spark.ml.regression.DecisionTreeRegressionModel = _

  /** Writes the scoring batches once per run: `batches` files of
    * `batchRows` lineitem rows each, chosen by a hash salted with the
    * seed. The model is written beside them. */
  def stage(dir0: Path): Unit = {
    workDir = dir0
    import org.apache.spark.sql.expressions.Window
    Tables.lineitem(h.spark, dir)
      .withColumn("_h", xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed)))
      .withColumn("batch", pmod(col("_h"), lit(w.batches.toLong)))
      .withColumn("_r", row_number().over(Window.partitionBy("batch").orderBy("_h")))
      .filter(col("_r") <= w.batchRows).drop("_h", "_r")
      .repartition(col("batch")).write.partitionBy("batch").mode("overwrite")
      .parquet(workDir.resolve("batches").toString)
    h.release()
  }

  /** Train, load, then `w.requests` scoring requests. */
  def pass(p: Int): Seq[Call] = {
    val calls = ArrayBuffer.empty[Call]
    h.assertClean()
    var gc0 = Jvm.gcMillis
    var build = 0L
    var action = 0L
    val (_, tId, tWall) = h.span("train", "train", 0L) { t =>
      val (assembled, _, a) = h.span("assemble", "assemble", t) { _ =>
        FeatureVectorizer.assemble(Tables.lineitem(h.spark, dir), spec)
      }
      build = a
      val (_, _, f) = h.span("fit_save", "fit_save", t) { f =>
        h.layers.fitPhases.add(f)
        DecisionTree.trainAssembled(assembled, spec, modelPath)
      }
      action = f
    }
    calls += h.finish(p, "train", "train", tId, tWall, build, action, ok = true, gc0)

    gc0 = Jvm.gcMillis
    val (model, lId, lWall) = h.span("load", "load", 0L) { _ => DecisionTree.load(h.spark, modelPath) }
    lastModel = model
    calls += h.finish(p, "load", "load", lId, lWall, lWall, 0L, ok = true, gc0)

    val rng = new scala.util.Random(seed * 1000003L + p)
    for (_ <- 0 until w.requests) {
      val b = rng.nextInt(w.batches)
      used += b
      h.assertClean()
      gc0 = Jvm.gcMillis
      var ok = true
      build = 0L
      action = 0L
      val (_, rId, rWall) = h.span("score_request", s"batch $b", 0L) { r =>
        try {
          val (df, _, rd) = h.span("read", "read", r) { _ => h.spark.read.parquet(batchPath(b)) }
          val (scoredDf, _, pr) = h.span("predict", "predict", r) { _ =>
            DecisionTree.predict(df, model, spec, "prediction")
          }
          build = rd + pr
          val (_, _, wr) = h.span("write", "write", r) { _ =>
            scoredDf.write.mode("overwrite").format("noop").save()
          }
          action = wr
        } catch { case NonFatal(e) => ok = false; System.err.println(s"[perfbench] request failed: $e") }
      }
      calls += h.finish(p, "score", "score", rId, rWall, build, action, ok, gc0)
    }
    calls.toSeq
  }

  /** Every used batch scores to its full row count with no null
    * prediction; the model meets ml_train_predict's RMSE <= label
    * stddev invariant; its node count matches the pinned one. */
  def check(expectedFile: Path, pin: Boolean): (Set[String], Any) = {
    val bad = ArrayBuffer.empty[String]
    val spark = h.spark
    for (b <- used.toSeq.sorted) {
      val df = spark.read.parquet(batchPath(b))
      val n = df.count()
      val r = DecisionTree.predict(df, lastModel, spec, "prediction")
        .agg(count(lit(1)), count(col("prediction"))).head()
      if (n != w.batchRows || r.getLong(0) != n || r.getLong(1) != n) bad += "score"
      h.release()
    }
    val fit = DecisionTree.predict(Tables.lineitem(spark, dir), lastModel, spec, "prediction")
      .agg(sqrt(avg(pow(col("prediction") - col("l_extendedprice"), 2))),
        stddev_pop(col("l_extendedprice"))).head()
    val (rmse, sd) = (fit.getDouble(0), fit.getDouble(1))
    h.release()
    if (!(rmse <= sd * (1.0 + 1e-9))) bad ++= Seq("train", "load")
    val nodes = lastModel.numNodes
    if (pin) Files.writeString(expectedFile, Json.render(Map("num_nodes" -> nodes)) + "\n")
    else if (!Json.readNumbers(Files.readString(expectedFile)).get("num_nodes").contains(nodes.toDouble))
      bad ++= Seq("train", "load")
    (bad.toSet, Map("batches_checked" -> used.size, "rmse" -> rmse, "label_stddev" -> sd,
      "num_nodes" -> nodes, "mismatched" -> bad.distinct))
  }
}
