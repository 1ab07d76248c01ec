package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpec {

  test("csv reader loads the reference training corpus with an explicit schema") {
    val schema = StructType(Seq(
      StructField("dofM", IntegerType), StructField("dofW", IntegerType),
      StructField("carrier", DoubleType), StructField("tailNum", StringType)))
    // only the first 4 columns bind; the rest of each line is ignored
    val df = Sources.csv(spark, FlightCsv.path(spark), schema)
    assert(df.count() > 100)
    assert(df.filter(col("tailNum").startsWith("N")).count() == df.count())
  }

  test("Tables.rowCount is memoized per session: a new session counts a rewritten dir afresh") {
    withTempDir("graft-rowcount") { dir =>
      import spark.implicits._
      def docs(n: Int) = (1L to n.toLong).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      val path = s"$dir/documents.parquet"
      docs(3).write.parquet(path)
      assert(Tables.rowCount(spark, dir.toString, "documents") == 3L)
      docs(5).write.mode("overwrite").parquet(path)
      assert(Tables.rowCount(spark.newSession(), dir.toString, "documents") == 5L)
    }
  }

  test("json-lines reader with schema routes corrupt records instead of failing") {
    withTempDir("graft-json") { dir =>
      val f = new java.io.File(dir.toFile, "data.json")
      java.nio.file.Files.writeString(f.toPath,
        """{"id": 1, "name": "ok"}
          |not json at all
          |{"id": 2, "name": "also ok"}
          |""".stripMargin)
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("_corrupt_record", StringType)))
      val rows = Sources.jsonLines(spark, f.toString, schema).collect()
      assert(rows.length == 3)
      assert(rows.count(_.getAs[String]("_corrupt_record") != null) == 1)
    }
  }

  test("orc sink round-trips with pushed filters") {
    withTempDir("graft-orc") { dir =>
      val out = dir.toString + "/t"
      Sources.writeOrc(Tables.nation(spark, Sf), out)
      val back = Sources.orc(spark, out)
      assert(back.count() == 25)
      val filtered = back.filter(col("n_nationkey") === 3).select("n_name")
      filtered.collect()
      val scan = filtered.queryExecution.executedPlan.toString
      assert(scan.contains("PushedFilters: [IsNotNull(n_nationkey), EqualTo(n_nationkey,3)]"), scan)
    }
  }

  test("parquet sink round-trips with partition pruning") {
    withTempDir("graft-pq") { dir =>
      val out = dir.toString + "/t"
      Sources.writeParquet(Tables.nation(spark, Sf), out, partitionBy = Seq("n_regionkey"))
      val back = Sources.parquet(spark, out)
      assert(back.count() == 25)
      // partition filter prunes directories, not rows
      val pruned = back.filter(col("n_regionkey") === 0)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(n_regionkey"), plan)
    }
  }
}
