package graft

import graft.ml.{DecisionTree, FeatureSpec}
import graft.operators.Skew
import org.apache.spark.sql.functions._

class SkewEvalSpec extends SparkSpec {

  test("salted join returns exactly the plain-join result") {
    val l = Tables.lineitem(spark, Sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, Sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = l.join(o, "l_orderkey").count()
    val salted = Skew.saltedJoin(l, o, "l_orderkey", saltFactor = 8).count()
    assert(salted == plain)
  }

  test("key histogram surfaces the heaviest keys first") {
    val h = Skew.keyHistogram(Tables.lineitem(spark, Sf), col("l_returnflag"), topN = 3).collect()
    assert(h.length == 3)
    assert(h.map(_.getAs[Long]("rows")).sliding(2).forall(p => p.head >= p.last))
  }

  test("AQE splits the hot partition of a skewed shuffle join (skew=true in final plan)") {
    // runtime confs: lower the skew thresholds so the synthetic hot key
    // qualifies at test scale, restore after
    val keys = Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(2000000).select(
        when(col("id") % 100 < 99, lit(0L)).otherwise(col("id") % 1000).as("k"),
        (col("id") * 3).as("a"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 7).as("b"))
      val j = left.join(right, "k").select(col("k"), (col("a") + col("b")).as("v"))
      // materialize THIS QueryExecution (a write plans its own) so
      // executedPlan is the AQE final plan
      j.queryExecution.toRdd.foreachPartition(_ => ())
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in final plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("evaluate computes sane train-set metrics for the flight model") {
    val li = Tables.lineitem(spark, Sf)
      .select("l_quantity", "l_discount", "l_tax", "l_extendedprice")
    val spec = FeatureSpec(
      include = Some(Seq("l_quantity", "l_discount", "l_tax")), labelField = "l_extendedprice")
    withTempDir("graft-dt-eval") { tmp =>
      val path = tmp.toString
      val model = DecisionTree.train(li, spec, path, maxDepth = 6)
      val scored = DecisionTree.predict(li, model, spec.copy(labelField = "unused"), "pred")
      val (rmse, mae, r2) = DecisionTree.evaluate(scored, "l_extendedprice", "pred")
      assert(rmse > 0 && mae > 0)
      assert(r2 > 0.0 && r2 <= 1.0, s"r2=$r2")
      assert(mae <= rmse)
    }
  }
}
