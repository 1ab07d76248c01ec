package graft

import java.nio.file.{Files, Path, Paths}

import graft.ml.FeatureSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flight-delay training CSV the reference plugin's tests read
  * (headerless, 17 columns in the reference's `trainData.csv` layout).
  * Where the reference checkout is present its own file is used;
  * otherwise a deterministic flight-shaped CSV in the same layout is
  * generated once per JVM under a temp dir, deleted when the JVM exits,
  * so the specs that use the file only as a frame still run. The
  * generated rows carry none of the reference's flights: checks of the
  * reference's exact labels must `assume(referencePresent)`. */
object FlightCsv {
  val Reference: Path = Paths.get("/root/reference/src/test/resources/trainData.csv")

  def referencePresent: Boolean = Files.exists(Reference)

  private val Rows = 5000

  private val schema = StructType(Seq(
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
    * dofM/dofW shifted to 0-based, delayed = depDelayMins > 40. */
  def trainingFrame(spark: SparkSession): DataFrame =
    spark.read.schema(schema)
      .csv(path(spark))
      .withColumn("dofM", col("dofM") - 1)
      .withColumn("dofW", col("dofW") - 1)
      .withColumn("delayed", when(col("depDelayMins") > 40, 1.0).otherwise(0.0))

  val featureList: Seq[String] =
    Seq("dofM", "dofW", "carrier", "originId", "destId", "scheduleDepTime",
      "scheduledArrTime", "elapsedTime")

  /** The reference test's trainer config: dofW categorical with 7 values. */
  val trainSpec: FeatureSpec = FeatureSpec(
    include = Some(featureList), labelField = "delayed",
    cardinality = FeatureSpec.parseCardinality("dofW:7"))

  private var generated: Option[String] = None

  /** The reference CSV when present, else the generated one's dir. */
  def path(spark: SparkSession): String = synchronized {
    if (referencePresent) Reference.toString
    else generated.getOrElse {
      val base = Files.createTempDirectory("graft-flights")
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(base.toFile))
      val dir = base.resolve("trainData").toString
      write(spark, dir)
      generated = Some(dir)
      dir
    }
  }

  /** dofM in 1..31, dofW in 1..7, `N`-prefixed tail numbers, a
    * flightNum with multiples of 7, and depDelayMins in -10..109 (both
    * sides of the spec's 40-minute `delayed` cut). */
  private def write(spark: SparkSession, dir: String): Unit = {
    def h(salt: Int, mod: Int) = pmod(xxhash64(col("id"), lit(salt)), lit(mod.toLong))
    spark.range(Rows).select(
      (h(1, 31) + 1).cast("int").as("dofM"), (h(2, 7) + 1).cast("int").as("dofW"),
      (h(3, 5) + 1).cast("double").as("carrier"), format_string("N%03dAA", h(4, 1000)).as("tailNum"),
      (h(5, 2000) + 1).cast("int").as("flightNum"), (h(6, 40) + 10000).cast("int").as("originId"),
      format_string("A%02d", h(6, 40)).as("origin"), (h(7, 40) + 10000).cast("int").as("destId"),
      format_string("A%02d", h(7, 40)).as("dest"), h(8, 2400).cast("double").as("scheduleDepTime"),
      h(9, 2400).cast("double").as("deptime"), (h(10, 120) - 10).cast("double").as("depDelayMins"),
      h(11, 2400).cast("double").as("scheduledArrTime"), h(12, 2400).cast("double").as("arrTime"),
      (h(13, 120) - 10).cast("double").as("arrDelay"), (h(14, 400) + 20).cast("double").as("elapsedTime"),
      (h(15, 3000) + 50).cast("int").as("distance"))
      .coalesce(1).write.csv(dir)
  }
}
