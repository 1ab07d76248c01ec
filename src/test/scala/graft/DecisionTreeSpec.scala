package graft

import scala.collection.immutable.ArraySeq

import graft.ml.{Cells, DecisionTree, FeatureSpec, FeatureVectorizer}
import graft.operators.TextAnalysis
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor}
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node, Split}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Port of the reference's DecisionTreeRegressionTest +
  * DecisionTreeConfigTest (flight-delay data): the engine must
  * reproduce the trainer/predictor semantics, including the exact
  * validation error messages. */
class DecisionTreeSpec extends SparkSpec {

  private lazy val flights: DataFrame = FlightCsv.trainingFrame(spark)

  private val featureList = FlightCsv.featureList

  private val trainSpec = FlightCsv.trainSpec

  test("flight-delay train + predict reproduces the reference's labels") {
    assume(FlightCsv.referencePresent, s"reference CSV absent: ${FlightCsv.Reference}")
    withTempDir("graft-dt-flight") { dir =>
      val modelPath = dir.toString
      DecisionTree.train(flights, trainSpec, modelPath, maxDepth = 9, maxBins = 100)
      val model = DecisionTree.load(spark, modelPath)

      // the 6 held-out flights from DecisionTreeRegressionTest.java:192-203
      import spark.implicits._
      val toScore = Seq(
        (3, 5, 1.0, 12478, 12892, 900.0, 1225.0, 385.0),
        (24, 5, 2.0, 10397, 12953, 1150.0, 1359.0, 129.0),
        (3, 5, 3.0, 13930, 13198, 2030.0, 2205.0, 95.0),
        (28, 2, 1.0, 12892, 11298, 1025.0, 1530.0, 185.0),
        (1, 3, 4.0, 13930, 11433, 1641.0, 1905.0, 84.0),
        (1, 3, 4.0, 10397, 15376, 1855.0, 2108.0, 253.0))
        .toDF("dofM", "dofW", "carrier", "originId", "destId",
          "scheduleDepTime", "scheduledArrTime", "elapsedTime")
      val predicted = DecisionTree.predict(toScore, model,
        trainSpec.copy(labelField = "unused"), "delayed")
        .select("carrier", "originId", "delayed").collect()
        .map(r => (r.getDouble(0), r.getInt(1)) -> r.getDouble(2)).toMap

      // expected labels from DecisionTreeRegressionTest.java:221-233
      val expected = Map(
        (1.0, 12478) -> 1.0, (2.0, 10397) -> 0.0, (3.0, 13930) -> 1.0,
        (1.0, 12892) -> 0.0, (4.0, 13930) -> 1.0, (4.0, 10397) -> 1.0)
      expected.foreach { case (k, v) =>
        assert(predicted(k) == v, s"flight $k: predicted ${predicted(k)}, expected $v")
      }
    }
  }

  test("rows with null label are dropped before training") {
    val withNulls = flights.withColumn("delayed",
      when(col("flightNum") % 7 === 0, lit(null).cast("double")).otherwise(col("delayed")))
    withTempDir("graft-dt-null") { dir =>
      val modelPath = dir.toString
      // must not throw despite null labels
      DecisionTree.train(withNulls, trainSpec, modelPath, maxDepth = 3)
    }
  }

  test("null feature values become absent sparse-vector slots, not zeros") {
    import spark.implicits._
    val df = Seq[(Option[Double], Option[Double], Option[Int])](
      (Some(1.0), Some(2.0), Some(7)), (None, Some(3.0), None), (Some(-0.0), None, Some(0)),
      (None, None, None), (Some(Double.NaN), Some(5.0), Some(-2))).toDF("a", "b", "c")
    val out = FeatureVectorizer.assemble(df,
      FeatureSpec(include = Some(Seq("a", "b", "c")), labelField = "unused"))
      .select(FeatureVectorizer.FeaturesCol).collect()
      .map(_.getAs[org.apache.spark.ml.linalg.SparseVector](0))
    val expected = Seq(
      (Array(0, 1, 2), Array(1.0, 2.0, 7.0)), (Array(1), Array(3.0)), (Array(0, 2), Array(-0.0, 0.0)),
      (Array.empty[Int], Array.empty[Double]), (Array(0, 1, 2), Array(Double.NaN, 5.0, -2.0)))
    assert(out.length == expected.length)
    out.zip(expected).foreach { case (v, (idx, vals)) =>
      assert(v.size == 3)
      assert(v.indices.sameElements(idx), s"$v")
      assert(v.values.map(java.lang.Double.doubleToRawLongBits)
        .sameElements(vals.map(java.lang.Double.doubleToRawLongBits)), s"$v")
    }
  }

  /** A flight-shaped training frame generated in place: the flight
    * spec's features, dofW in 0..6, and a label that depends on dofW
    * through several category groups, so the fitted tree carries
    * categorical splits on both sides of `isLeft`. */
  private def syntheticFlights(rows: Int): DataFrame = {
    def h(salt: Int, mod: Int) = pmod(xxhash64(col("id"), lit(salt)), lit(mod.toLong))
    spark.range(rows).select(
      h(1, 28).cast("int").as("dofM"), h(2, 7).cast("int").as("dofW"),
      h(3, 5).cast("double").as("carrier"), (h(4, 40) + 10000).cast("int").as("originId"),
      (h(5, 40) + 10000).cast("int").as("destId"), h(6, 2400).cast("double").as("scheduleDepTime"),
      h(7, 2400).cast("double").as("scheduledArrTime"), h(8, 400).cast("double").as("elapsedTime"),
      h(9, 10).as("noise"))
      .withColumn("delayed",
        when(col("noise") < 1, 1.0)
          .when(col("dofW").isin(1, 3) && col("scheduleDepTime") > 1200, 1.0)
          .when(col("dofW").isin(0, 5, 6) && col("elapsedTime") > 250, 1.0)
          .when(col("dofW") === 4 && col("carrier") >= 2, 1.0)
          .otherwise(0.0))
      .drop("noise")
  }

  /** Scoring rows with null features, NaN and values outside dofW's
    * 0..6 range (dofW read as double so NaN and 2.5 are possible). */
  private def edgeRows(rows: Int): DataFrame = {
    val dofW = col("dofW").cast("double")
    val k = col("id") % 12
    val nullD = lit(null).cast("double")
    syntheticFlights(rows).withColumn("id", monotonically_increasing_id())
      .withColumn("k", k)
      .withColumn("dofW",
        when(k === 0, lit(9.0)).when(k === 1, lit(Double.NaN)).when(k === 2, nullD)
          .when(k === 3, lit(-1.0)).when(k === 4, lit(2.5)).when(k === 8, lit(-0.0))
          .otherwise(dofW))
      .withColumn("carrier", when(k === 5, nullD).otherwise(col("carrier")))
      .withColumn("scheduleDepTime",
        when(k === 6, lit(Double.NaN)).when(k === 7, nullD).otherwise(col("scheduleDepTime")))
      .withColumn("elapsedTime", when(k === 7, nullD).otherwise(col("elapsedTime")))
      .drop("k", "delayed")
  }

  test("predict equals MLlib transform on nulls, NaN and out-of-range categories") {
    import org.apache.spark.ml.param.ParamMap
    import org.apache.spark.ml.tree.{CategoricalSplit, InternalNode, Node}
    withTempDir("graft-dt-edge") { dir =>
      val modelPath = dir.toString
      DecisionTree.train(syntheticFlights(4000), trainSpec, modelPath, maxDepth = 9, maxBins = 100)
      val model = DecisionTree.load(spark, modelPath)
      def catSplits(n: Node): Seq[CategoricalSplit] = n match {
        case i: InternalNode =>
          (i.split match { case c: CategoricalSplit => Seq(c); case _ => Nil }) ++
            catSplits(i.leftChild) ++ catSplits(i.rightChild)
        case _ => Nil
      }
      val sides = catSplits(model.rootNode).map(c => c.leftCategories.length <= c.numCategories / 2)
      assert(sides.contains(true) && sides.contains(false), s"categorical split sides: $sides")

      val toScore = edgeRows(1200)
      val spec = trainSpec.copy(labelField = "unused")
      val reference = model.copy(ParamMap.empty).setPredictionCol("p")
        .transform(FeatureVectorizer.assemble(toScore, spec))
        .drop(FeatureVectorizer.FeaturesCol)
      def check(): Unit = {
        val got = DecisionTree.predict(toScore, model, spec, "p")
        assert(got.schema == reference.schema)
        val g = got.orderBy("id").collect()
        val r = reference.orderBy("id").collect()
        assert(g.length == 1200 && g.length == r.length)
        def bits(row: org.apache.spark.sql.Row) = row.toSeq.map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case o => o
        }
        g.zip(r).foreach { case (a, b) => assert(bits(a) == bits(b), s"row $a vs $b") }
      }
      check()
      withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check())
    }
  }

  test("predict leaves the model unchanged and concurrent calls keep their own columns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    withTempDir("graft-dt-shared") { dir =>
      val modelPath = dir.toString
      DecisionTree.train(syntheticFlights(2000), trainSpec, modelPath, maxDepth = 5)
      val model = DecisionTree.load(spark, modelPath)
      val spec = trainSpec.copy(labelField = "unused")
      val toScore = syntheticFlights(500).drop("delayed")
      val before = model.getPredictionCol
      val p1 = DecisionTree.predict(toScore, model, spec, "p1")
      assert(model.getPredictionCol == before)
      val expected = p1.select("p1").collect().map(_.getDouble(0)).sorted.toSeq

      val fields = Seq("pa", "pb", "pc", "pd")
      val runs = fields.map { f =>
        Future {
          val out = DecisionTree.predict(toScore, model, spec, f)
          (f, out.columns.toSeq, out.select(f).collect().map(_.getDouble(0)).sorted.toSeq)
        }
      }
      runs.map(Await.result(_, 5.minutes)).foreach { case (f, columns, values) =>
        assert(columns.contains(f) && fields.filterNot(_ == f).forall(o => !columns.contains(o)))
        assert(values == expected, s"field $f")
      }
      assert(model.getPredictionCol == before)
    }
  }

  test("validation error messages mirror the reference") {
    val schema = flights.schema
    val e1 = intercept[IllegalArgumentException] {
      FeatureSpec(include = Some(featureList), labelField = "dealyed").validateLabel(schema)
    }
    assert(e1.getMessage == "Label field dealyed does not exists in the input schema.")

    val e2 = intercept[IllegalArgumentException] {
      FeatureSpec(include = Some(featureList :+ "destinationId"), labelField = "delayed")
        .featureColumns(schema)
    }
    assert(e2.getMessage == "Field destinationId does not exists in the input schema.")

    val e3 = intercept[IllegalArgumentException] {
      FeatureSpec(labelField = "delayed").featureColumns(schema)
    }
    assert(e3.getMessage ==
      "Features must be of type : int, double, float, long but was of type STRING for field tailNum.")

    val e4 = intercept[IllegalArgumentException] {
      FeatureSpec(include = Some(featureList), labelField = "tailNum").validateLabel(schema)
    }
    assert(e4.getMessage == "Label field must be of type Double, but was STRING.")

    intercept[IllegalArgumentException] {
      FeatureSpec(include = Some(Seq("dofM")), exclude = Some(Seq("dofW")), labelField = "delayed")
        .featureColumns(schema)
    }
  }

  test("invalid cardinality mapping fails the training run") {
    val badSpec = trainSpec.copy(cardinality = Map("dofW" -> 2))
    withTempDir("graft-dt-bad") { dir =>
      val modelPath = dir.toString
      val e = intercept[Exception] {
        DecisionTree.train(flights, badSpec, modelPath, maxDepth = 9)
      }
      // MLlib rejects dofW values outside the declared 0..1 categories
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
      assert(causes.exists {
        case c: IllegalArgumentException => c.getMessage.contains("is categorical with values in")
        case _ => false
      }, s"cause chain: ${causes.mkString(" <- ")}")
    }
  }

  test("hyphenated field names sanitize to underscores") {
    assert(FeatureSpec.sanitize("days-of-week") == "days_of_week")
  }

  test("sanitization rejects a frame where the underscore name already exists") {
    import org.apache.spark.sql.functions.lit
    val clashing = flights
      .withColumnRenamed("dofW", "day-of-week")
      .withColumn("day_of_week", lit(0.0))
    val spec = FeatureSpec(include = Some(Seq("day-of-week")), labelField = "delayed")
    val e = intercept[IllegalArgumentException] {
      graft.ml.FeatureVectorizer.assemble(clashing, spec)
    }
    assert(e.getMessage.contains("day-of-week") && e.getMessage.contains("day_of_week"))
  }

  test("hyphenated feature and label columns train and predict end-to-end") {
    // the reference README's documented limitation, wired through:
    // rename-before-MLlib must happen inside the pipeline, so a user
    // frame with hyphenated names just works.
    val hyphenated = flights
      .withColumnRenamed("dofW", "day-of-week")
      .withColumnRenamed("delayed", "is-delayed")
    val spec = FeatureSpec(
      include = Some(featureList.map(c => if (c == "dofW") "day-of-week" else c)),
      labelField = "is-delayed",
      cardinality = FeatureSpec.parseCardinality("day-of-week:7"))
    withTempDir("graft-dt-hyphen") { dir =>
      val modelPath = dir.toString
      DecisionTree.train(hyphenated, spec, modelPath, maxDepth = 3)
      val model = DecisionTree.load(spark, modelPath)
      val scored = DecisionTree.predict(
        hyphenated.drop("is-delayed"), model, spec.copy(labelField = "unused"), "pred")
      assert(scored.filter(col("pred").isNotNull).count() == flights.count())
      // the scored frame keeps the (sanitized) feature column
      assert(scored.columns.contains("day_of_week"))
    }
  }

  /** The fit's job description (branch, cells) while `fit` runs. */
  private def fitDescription(fit: => Unit): String = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("DecisionTree fit:")).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      fit
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!seen.isEmpty, "no job carried the fit's description")
      seen.peek()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  private def goesLeft(split: Split, v: Vector): Boolean = split match {
    case c: ContinuousSplit => v(c.featureIndex) <= c.threshold
    case c: CategoricalSplit => c.leftCategories.contains(v(c.featureIndex))
  }

  /** Same shape, splits and leaf predictions (1e-12 relative) over the
    * training `rows` that reach `a` and `b`. A node may split on another
    * feature or threshold only on an exact tie: the same gain and the
    * same rows sent left, so the subtrees below see the same rows. Such
    * ties are decided by summation order, in MLlib's own fit too: it
    * picks another feature for one of 1,057 nodes on the lineitem frame
    * at depth 10 when the same rows arrive repartitioned. Returns the
    * number of tie splits. */
  private def assertSameTree(a: Node, b: Node, rows: Seq[Vector], path: String): Int = (a, b) match {
    case (x: InternalNode, y: InternalNode) =>
      val (l, r) = rows.partition(goesLeft(x.split, _))
      val tie = if (x.split == y.split) 0 else {
        assert(close(x.gain, y.gain) && rows.filter(goesLeft(y.split, _)) == l,
          s"$path: ${x.split} (gain ${x.gain}) vs ${y.split} (gain ${y.gain})")
        1
      }
      tie + assertSameTree(x.leftChild, y.leftChild, l, path + "L") +
        assertSameTree(x.rightChild, y.rightChild, r, path + "R")
    case (x: LeafNode, y: LeafNode) =>
      assert(close(x.prediction, y.prediction), s"$path: ${x.prediction} vs ${y.prediction}")
      0
    case _ => fail(s"$path: $a vs $b")
  }

  private val lineitemSpec = FeatureSpec(
    include = Some(Seq("l_quantity", "l_discount", "l_tax")), labelField = "l_extendedprice")

  /** `DecisionTreeRegressor.fit` with the estimator `DecisionTree`
    * builds, on the assembled frame. */
  private def mllibFit(assembled: DataFrame, spec: FeatureSpec, depth: Int): DecisionTreeRegressionModel =
    new DecisionTreeRegressor().setImpurity("variance").setMaxDepth(depth)
      .setMaxBins(DecisionTree.DefaultMaxBins).setFeaturesCol(FeatureVectorizer.FeaturesCol)
      .setLabelCol(spec.sanitizedLabel).setSeed(42L).fit(assembled)

  /** Fits through `DecisionTree.trainWithCellLimit` into a temp dir it
    * deletes; returns the model and its fit's job description. */
  private def fitWithLimit(assembled: DataFrame, spec: FeatureSpec, depth: Int,
                           cells: Int => Int = Cells.limit): (DecisionTreeRegressionModel, String) = {
    var model: DecisionTreeRegressionModel = null
    val description = fitDescription {
      withTempDir("graft-dt-branch") { dir =>
        model = DecisionTree.trainWithCellLimit(assembled, spec, dir.toString, depth,
          DecisionTree.DefaultMaxBins, cells)
      }
    }
    (model, description)
  }

  private def features(assembled: DataFrame): Seq[Vector] =
    assembled.select(FeatureVectorizer.FeaturesCol).collect().map(_.getAs[Vector](0)).toSeq

  test("the driver-grown tree equals MLlib's fit, and the cell limit picks the branch") {
    val qualityFeats = TextAnalysis.qualityFeatures(Tables.documents(spark, Sf))
      .withColumn("label", (col("words") >= 30 && col("alpha_ratio") >= 0.6).cast("double"))
    val qualitySpec = FeatureSpec(
      include = Some(Seq("words", "alpha_ratio", "punct_ratio", "stop_ratio")), labelField = "label")
    // the frames of ml_train_predict (also at ml_score's depth 10),
    // pipe_ml_filter and the flight-shaped spec frames (dofW categorical)
    val frames = Seq(
      ("ml_train_predict", Tables.lineitem(spark, Sf), lineitemSpec, 6),
      ("lineitem depth 10", Tables.lineitem(spark, Sf), lineitemSpec, 10),
      ("pipe_ml_filter", qualityFeats, qualitySpec, 6),
      ("flights", flights, trainSpec, 9),
      ("synthetic flights", syntheticFlights(4000), trainSpec, 9))
    frames.foreach { case (name, df, spec, depth) =>
      val assembled = FeatureVectorizer.assemble(df.filter(col(spec.labelField).isNotNull), spec)
      val (driver, description) = fitWithLimit(assembled, spec, depth)
      assert(description.contains("branch=driver"), s"$name: $description")
      val mllib = mllibFit(assembled, spec, depth)
      assert(driver.numNodes == mllib.numNodes && driver.numNodes > 1, name)
      val ties = assertSameTree(driver.rootNode, mllib.rootNode, features(assembled), s"$name root")
      info(s"$name: ${driver.numNodes} nodes, $ties tie splits on another feature or threshold")
      assert(driver.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap ==
        mllib.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap, name)
      val scoring = spec.copy(labelField = "unused")
      val p = Seq(driver, mllib).map(m =>
        DecisionTree.predict(df, m, scoring, "p").select("p").collect().map(_.getDouble(0)))
      assert(p(0).length == p(1).length)
      p(0).zip(p(1)).foreach { case (a, b) => assert(close(a, b), s"$name: $a vs $b") }
    }
    // past the limit the fit is MLlib's own
    val fallbacks = Seq(
      ("synthetic flights", syntheticFlights(4000), trainSpec, 9),
      ("ml_train_predict", Tables.lineitem(spark, Sf), lineitemSpec, 6))
    fallbacks.foreach { case (name, df, spec, depth) =>
      val assembled = FeatureVectorizer.assemble(df.filter(col(spec.labelField).isNotNull), spec)
      val expected = mllibFit(assembled, spec, depth)
      val (fallback, viaMllib) = fitWithLimit(assembled, spec, depth, _ => 1)
      assert(viaMllib.contains("branch=mllib"), s"$name: $viaMllib")
      assert(assertSameTree(fallback.rootNode, expected.rootNode, features(assembled),
        s"$name fallback root") == 0)
    }
  }

  test("a features column without attribute metadata fits the same tree") {
    val assembled = FeatureVectorizer.assemble(Tables.lineitem(spark, Sf), lineitemSpec)
    val stripped = assembled.withColumn(FeatureVectorizer.FeaturesCol,
      col(FeatureVectorizer.FeaturesCol).as(FeatureVectorizer.FeaturesCol, Metadata.empty))
    // no vector size in the metadata: the fit reads it from the rows
    assert(AttributeGroup.fromStructField(stripped.schema(FeatureVectorizer.FeaturesCol)).size < 0)
    val Seq(withMeta, without) = Seq(assembled, stripped).map { df =>
      withTempDir("graft-dt-meta")(dir => DecisionTree.trainAssembled(df, lineitemSpec, dir.toString))
    }
    assert(without.numFeatures == withMeta.numFeatures && without.numNodes == withMeta.numNodes)
    assert(assertSameTree(without.rootNode, withMeta.rootNode, features(assembled), "root") == 0)
  }

  test("a cell table stays within its heap budget; a wide frame past it takes MLlib's fit") {
    // the heap a full table takes, as the bytes this thread allocates
    // to fill it (an upper bound: it also counts replaced slot arrays)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val thread = Thread.currentThread().getId
    assume(threads.getThreadAllocatedBytes(thread) >= 0, "no per-thread allocation counter")
    for (nf <- Seq(1, 2, 3, 8, 100, 1000)) {
      val limit = Cells.limit(nf)
      def key(c: Int) = { val k = new Array[Long](nf); k(0) = c; new ArraySeq.ofLong(k) }
      val before = threads.getThreadAllocatedBytes(thread)
      val t = new Cells[ArraySeq.ofLong](limit)
      var c = 0
      while (c < limit) { t.add(key(c), 1.0, c.toDouble, 1.0); c += 1 }
      val heap = threads.getThreadAllocatedBytes(thread) - before
      t.add(key(0), 1.0, 0.0, 0.0)
      assert(!t.overflow && t.size == limit, s"$nf features")
      info(s"$nf features: $limit cells, ${heap >> 10} KiB of ${Cells.Budget >> 10}")
      assert(heap <= Cells.Budget, s"$nf features")
      t.add(key(limit), 1.0, 0.0, 0.0)
      assert(t.overflow, s"$nf features")
    }
    // every column a feature: 400 continuous features, each row its own
    // cell, more rows than the 400-feature limit
    val width = 400
    val rows = Cells.limit(width) + 2000
    val wide = spark.range(rows).select(
      (col("id") % 7).cast("double").as("y") +:
        (0 until width).map(f => (abs(xxhash64(col("id"), lit(f))) % 1000).cast("double").as(s"f$f")): _*)
    val spec = FeatureSpec(labelField = "y")
    val assembled = FeatureVectorizer.assemble(wide, spec)
    val (model, description) = fitWithLimit(assembled, spec, 2)
    assert(description.contains("branch=mllib"), description)
    assert(model.numFeatures == width && model.numNodes > 1)
  }

  test("a 400-feature frame assembles and scores in whole-stage codegen as MLlib does") {
    import org.apache.spark.ml.feature.VectorAssembler
    val width = 400
    val cols = (0 until width).map(f => s"f$f")
    // a narrow output over `range`, so each projection compiles into one
    // whole-stage method: without split methods it passes 64 KB
    val wide = spark.range(0, 3000, 1, 4).select(
      (col("id") % 7).cast("double").as("y") +:
        cols.zipWithIndex.map { case (c, f) => (abs(xxhash64(col("id"), lit(f))) % 5).cast("double").as(c) }: _*)
    val spec = FeatureSpec(include = Some(cols), labelField = "y")
    withConf("spark.sql.codegen.fallback" -> "false") {
      val assembled = FeatureVectorizer.assemble(wide, spec)
      val vectors = new VectorAssembler().setInputCols(cols.toArray).setOutputCol("v")
        .transform(assembled).select(FeatureVectorizer.FeaturesCol, "v").collect()
      assert(vectors.length == 3000)
      vectors.foreach(r => assert(r.getAs[Vector](0).toArray.sameElements(r.getAs[Vector](1).toArray), s"$r"))
      withTempDir("graft-dt-wide") { dir =>
        val model = DecisionTree.train(wide, spec, dir.toString, maxDepth = 4)
        assert(model.numFeatures == width && model.numNodes > 1)
        val scored = model.copy(org.apache.spark.ml.param.ParamMap.empty).setPredictionCol("q")
          .transform(DecisionTree.predict(assembled, model, spec.copy(labelField = "unused"), "p"))
          .select("p", "q").collect()
        assert(scored.length == 3000)
        scored.foreach(r => assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"$r"))
      }
    }
  }

  test("non-finite labels and features fail the fit with MLlib's checks") {
    val cases = Seq(
      ("delayed", Double.NaN, "Labels MUST NOT be Null or NaN"),
      ("scheduleDepTime", Double.NaN, "Vector values MUST NOT be NaN or Infinity"),
      ("elapsedTime", Double.PositiveInfinity, "Vector values MUST NOT be NaN or Infinity"))
    cases.foreach { case (column, value, message) =>
      val bad = syntheticFlights(500)
        .withColumn(column, when(col("dofM") === 3, lit(value)).otherwise(col(column)))
      val e = withTempDir("graft-dt-nan") { dir =>
        intercept[Exception](DecisionTree.train(bad, trainSpec, dir.toString, maxDepth = 3))
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
      assert(causes.exists(c => String.valueOf(c.getMessage).contains(message)),
        s"$column = $value: cause chain: ${causes.mkString(" <- ")}")
    }
  }

  test("ml_train_predict and pipe_ml_filter leave no model dir behind") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def modelDirs(): Set[String] = {
      val names = java.nio.file.Files.list(tmp)
      try names.toArray.map(_.toString).filter(n => n.contains("graft-dt-model") ||
        n.contains("graft-mlfilter-model")).toSet
      finally names.close()
    }
    val before = modelDirs()
    Seq("ml_train_predict", "pipe_ml_filter").foreach(SparkEntry.queries(_)(spark, Sf))
    CacheRegistry.releaseAll()
    assert(modelDirs() -- before == Set.empty)
  }
}
