package perfbench

/** Per-layer numbers of a traced run: per call, and per pass with the
  * median over passes as the reported metric. */
final case class Layered(metrics: Map[String, (Double, String)],
                         perPassRows: Seq[Map[String, Double]],
                         perCall: Seq[Map[String, Any]],
                         selfPerPass: Map[String, Double],
                         countsByPass: Seq[Map[String, Double]])

object Layered {
  /** Metric name -> unit, in report order. */
  val units: Seq[(String, String)] = Seq(
    "entry.build_s" -> "s", "entry.build_jobs" -> "count", "catalyst.plan_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.tasks_per_stage" -> "count", "sched.driver_s" -> "s",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.spill_bytes" -> "bytes",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "scan.input_bytes" -> "bytes",
    "bcast.count" -> "count", "bcast.bytes" -> "bytes",
    "cache.frames" -> "count", "cache.bytes" -> "bytes", "cache.kept_frac" -> "ratio",
    "ml.assemble_s" -> "s", "ml.fit_save_s" -> "s", "ml.fit_jobs" -> "count",
    "ml.load_s" -> "s", "ml.predict_s" -> "s",
    "jvm.gc_pause_s" -> "s",
    "self.build_s" -> "s", "self.action_s" -> "s", "self.job_s" -> "s", "self.fit_save_s" -> "s",
    "trace.cover_min" -> "ratio")

  val exactCounts = Seq("sched.jobs", "sched.stages", "sched.tasks", "shuffle.write_bytes",
    "bcast.count", "cache.frames")

  def perPass(h: Harness, calls: Seq[Call], passWall: Map[Int, Double]): Layered = {
    val all = (h.spans.synchronized(h.spans.toList) ++ h.layers.synchronized(h.layers.spans.toList))
    val kids = all.groupBy(_.parent)
    val byId = all.map(s => s.id -> s).toMap
    def descendants(id: Long): List[Span] =
      kids.getOrElse(id, Nil).flatMap(s => s :: descendants(s.id))

    val perCallRows = calls.map { c =>
      val root = byId(c.span)
      val tree = root :: descendants(c.span)
      val jobs = tree.filter(_.layer == "job")
      val driver = root.dur - Spans.covered(root.start, root.end, jobs.map(j => (j.start, j.end)))
      val self = Spans.selfByLayer(tree)
      val k = c.counters.getOrElse(new Counters)
      def dur(layer: String) = tree.filter(_.layer == layer).map(_.dur).sum / 1e9
      val row = Map[String, Double](
        "entry.build_s" -> (if (c.kind == "invocation") c.build / 1e9 else 0.0),
        "entry.build_jobs" -> k.buildJobs.toDouble,
        "catalyst.plan_s" -> k.planNs / 1e9,
        "sched.jobs" -> k.jobs.toDouble, "sched.stages" -> k.stages.toDouble,
        "sched.tasks" -> k.tasks.toDouble, "sched.driver_s" -> driver / 1e9,
        "exec.run_s" -> k.runMs / 1e3, "exec.cpu_s" -> k.cpuNs / 1e9, "exec.gc_s" -> k.gcMs / 1e3,
        "exec.spill_bytes" -> k.spillBytes.toDouble,
        "shuffle.write_bytes" -> k.shuffleWrite.toDouble, "shuffle.read_bytes" -> k.shuffleRead.toDouble,
        "shuffle.fetch_wait_s" -> k.fetchWaitMs / 1e3, "scan.input_bytes" -> k.inputBytes.toDouble,
        "bcast.count" -> k.bcastCount.toDouble, "bcast.bytes" -> k.bcastBytes.toDouble,
        "cache.frames" -> c.cache.frames.toDouble, "cache.bytes" -> c.cache.bytes.toDouble,
        "cache.cached_parts" -> c.cache.cachedParts.toDouble,
        "cache.total_parts" -> c.cache.totalParts.toDouble,
        "ml.assemble_s" -> dur("assemble"), "ml.fit_save_s" -> dur("fit_save"),
        "ml.fit_jobs" -> k.mlFitJobs.toDouble, "ml.load_s" -> dur("load"),
        "ml.predict_s" -> (dur("predict") + dur("write")),
        "jvm.gc_pause_s" -> c.gcMs / 1e3,
        "self.build_s" -> self.getOrElse("build", 0L) / 1e9,
        "self.action_s" -> self.getOrElse("action", 0L) / 1e9,
        "self.job_s" -> self.getOrElse("job", 0L) / 1e9,
        "self.fit_save_s" -> self.getOrElse("fit_save", 0L) / 1e9,
        "wall_s" -> c.wall / 1e9,
        "cover" -> (if (c.wall > 0) (c.build + c.action).toDouble / c.wall else 1.0))
      (c, row, self)
    }

    val passes = perCallRows.groupBy(_._1.pass).toSeq.sortBy(_._1).map { case (p, rows) =>
      def sum(k: String) = rows.map(_._2(k)).sum
      val stages = sum("sched.stages")
      val parts = sum("cache.total_parts")
      val keys = units.map(_._1).filterNot(Set("sched.tasks_per_stage", "exec.busy_frac",
        "cache.kept_frac", "trace.cover_min"))
      keys.map(k => k -> sum(k)).toMap ++ Map(
        "pass" -> p.toDouble,
        "sched.tasks_per_stage" -> (if (stages > 0) sum("sched.tasks") / stages else 0.0),
        "exec.busy_frac" -> sum("exec.run_s") / (passWall(p) * Conf.Cores),
        "cache.kept_frac" -> (if (parts > 0) sum("cache.cached_parts") / parts else 0.0),
        "trace.cover_min" -> rows.map(_._2("cover")).min)
    }

    val metrics = units.map { case (k, u) =>
      k -> (if (k == "trace.cover_min") passes.map(_(k)).min else Bench.median(passes.map(_(k))), u)
    }.toMap
    val selfPerPass = perCallRows.flatMap(_._3.toSeq).groupBy(_._1)
      .map { case (l, xs) => l -> xs.map(_._2).sum / 1e9 / passes.size }
    Layered(metrics, passes, perCallRows.map { case (c, row, self) =>
      Map[String, Any]("pass" -> c.pass, "name" -> c.name, "kind" -> c.kind, "ok" -> c.ok,
        "build_s" -> c.build / 1e9, "action_s" -> c.action / 1e9) ++ row ++
        self.map { case (l, ns) => s"self.$l" -> ns / 1e9 }
    }, selfPerPass, passes.map(r => exactCounts.map(k => k -> r(k)).toMap + ("pass" -> r("pass"))))
  }
}
