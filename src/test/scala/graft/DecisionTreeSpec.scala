package graft

import graft.ml.{DecisionTree, FeatureSpec, FeatureVectorizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Port of the reference's DecisionTreeRegressionTest +
  * DecisionTreeConfigTest (flight-delay data): the engine must
  * reproduce the trainer/predictor semantics, including the exact
  * validation error messages. */
class DecisionTreeSpec extends SparkSpec {

  private val csvSchema = StructType(Seq(
    StructField("dofM", IntegerType), StructField("dofW", IntegerType),
    StructField("carrier", DoubleType), StructField("tailNum", StringType),
    StructField("flightNum", IntegerType), StructField("originId", IntegerType),
    StructField("origin", StringType), StructField("destId", IntegerType),
    StructField("dest", StringType), StructField("scheduleDepTime", DoubleType),
    StructField("deptime", DoubleType), StructField("depDelayMins", DoubleType),
    StructField("scheduledArrTime", DoubleType), StructField("arrTime", DoubleType),
    StructField("arrDelay", DoubleType), StructField("elapsedTime", DoubleType),
    StructField("distance", IntegerType)))

  /** Training frame mirroring the reference test's getInputData:
    * dofM/dofW shifted to 0-based, delayed = depDelayMins > 40. Read
    * from [[FlightCsv]]: the reference's CSV where present, else a
    * generated one in its layout. */
  private lazy val flights: DataFrame =
    spark.read.schema(csvSchema)
      .csv(FlightCsv.path(spark))
      .withColumn("dofM", col("dofM") - 1)
      .withColumn("dofW", col("dofW") - 1)
      .withColumn("delayed", when(col("depDelayMins") > 40, 1.0).otherwise(0.0))

  private val featureList =
    Seq("dofM", "dofW", "carrier", "originId", "destId", "scheduleDepTime",
      "scheduledArrTime", "elapsedTime")

  private val trainSpec = FeatureSpec(
    include = Some(featureList), labelField = "delayed",
    cardinality = FeatureSpec.parseCardinality("dofW:7"))

  test("flight-delay train + predict reproduces the reference's labels") {
    assume(FlightCsv.referencePresent, s"reference CSV absent: ${FlightCsv.Reference}")
    val modelPath = java.nio.file.Files.createTempDirectory("graft-dt-flight").toString
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

  test("rows with null label are dropped before training") {
    val withNulls = flights.withColumn("delayed",
      when(col("flightNum") % 7 === 0, lit(null).cast("double")).otherwise(col("delayed")))
    val modelPath = java.nio.file.Files.createTempDirectory("graft-dt-null").toString
    // must not throw despite null labels
    DecisionTree.train(withNulls, trainSpec, modelPath, maxDepth = 3)
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
    val modelPath = java.nio.file.Files.createTempDirectory("graft-dt-edge").toString
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

  test("predict leaves the model unchanged and concurrent calls keep their own columns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val modelPath = java.nio.file.Files.createTempDirectory("graft-dt-shared").toString
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
    val modelPath = java.nio.file.Files.createTempDirectory("graft-dt-bad").toString
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
    val modelPath = java.nio.file.Files.createTempDirectory("graft-dt-hyphen").toString
    DecisionTree.train(hyphenated, spec, modelPath, maxDepth = 3)
    val model = DecisionTree.load(spark, modelPath)
    val scored = DecisionTree.predict(
      hyphenated.drop("is-delayed"), model, spec.copy(labelField = "unused"), "pred")
    assert(scored.filter(col("pred").isNotNull).count() == flights.count())
    // the scored frame keeps the (sanitized) feature column
    assert(scored.columns.contains("day_of_week"))
  }
}
