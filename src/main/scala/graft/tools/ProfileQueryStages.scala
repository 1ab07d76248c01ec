package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.util.control.NonFatal

/** Generic wall-time attribution for any registry query (dev tool,
  * round-19 optimization pass): runs the named queries through the
  * Bench discipline (one warm noop, one timed noop) with a listener
  * that prints, for the timed run, every JOB (wall between start and
  * end events — the sequential-critical-path view that dominates at
  * local benchmark scale) and every STAGE (executor task-time sum +
  * shuffle bytes + task count — the cluster-cost view). The gap
  * between the query's wall and the sum of job walls is driver-side
  * work (planning, broadcast collects, AQE re-optimization).
  * Usage: `runMain graft.tools.ProfileQueryStages <query> [query ...]`. */
object ProfileQueryStages {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQueryStages <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stageAgg = new java.util.concurrent.atomic.AtomicLong // executor ms
    val capture = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (capture.get) {
          val i = e.stageInfo
          val m = i.taskMetrics
          stageAgg.addAndGet(m.executorRunTime)
          // RDD scope names carry the SQL operator chain this stage
          // executes — far more informative than the callsite name
          val scopes = i.rddInfos.sortBy(_.id).map(r =>
            r.scope.map(_.name).getOrElse(r.name)).distinct.mkString(" <- ")
          stages.add(f"    stage ${i.stageId}%3d ${m.executorRunTime / 1000.0}%7.3f exec-s  " +
            f"shufW ${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2f MB  " +
            f"tasks ${i.numTasks}%3d  ${scopes.take(160)}")
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (capture.get)
          jobStart.put(e.jobId, (System.nanoTime(),
            Option(e.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (capture.get) Option(jobStart.get(e.jobId)).foreach { case (t0, d) =>
          jobs.add(f"  job ${e.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  ${d.take(70)}")
        }
    })
    // Per-operator runtime metrics of the FINAL (AQE) executed plan —
    // printed when SPARK_GRAFT_PROFILE_NODES=1. The noop save's
    // QueryExecution carries every node's SQL metrics after the run.
    val dumpNodes = sys.env.get("SPARK_GRAFT_PROFILE_NODES").contains("1")
    if (dumpNodes) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = if (capture.get) {
          val sb = new StringBuilder
          def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
            val interesting = p.metrics.filter { case (k, m) =>
              m.value > 0 && (k.contains("time") || k.contains("Time") ||
                k == "numOutputRows" || k.contains("spill") ||
                k.contains("duration") || k.contains("dataSize"))
            }
            val ms = interesting.map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
            sb.append("  " * d).append(p.nodeName).append("  ").append(ms).append("\n")
            p match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                walk(a.executedPlan, d + 1)
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                walk(q.plan, d + 1)
              case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
                walk(r.child, d + 1)
              case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
                sb.append("  " * (d + 1)).append("[cached: ")
                  .append(i.relation.cacheBuilder.cachedName).append("]\n")
              case _ => p.children.foreach(walk(_, d + 1))
            }
          }
          walk(qe.executedPlan, 2)
          println(sb.toString)
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    def drain(): Unit =
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case NonFatal(_) => Thread.sleep(800) }
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def runOnce(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      runOnce() // warm: JIT, codegen, footers, persisted subtrees
      drain()
      stages.clear(); jobs.clear(); jobStart.clear(); stageAgg.set(0)
      System.gc()
      capture.set(true)
      val wall = runOnce()
      drain()
      capture.set(false)
      graft.CacheRegistry.releaseAll(blocking = true)
      System.gc()
      println(f"==== $name%s: wall $wall%.3f s, stage-exec-sum ${stageAgg.get / 1000.0}%.3f s ====")
      jobs.forEach(println(_))
      stages.forEach(println(_))
    }
    spark.stop()
  }
}
