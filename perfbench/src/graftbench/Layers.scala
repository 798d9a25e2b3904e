package graftbench

/** Per-layer metrics of a traced run, computed from its spans. The names
  * are fixed (they are the `per_layer` list of BENCHMARK.json, in order);
  * a workload that never calls a layer reports 0 for it.
  *
  * For each traced call site K (a span name): `K_ms` is the median span
  * duration, `K.jobs` and `K.tasks` the mean Spark jobs and tasks a call
  * launched, counting nested spans. Calls in measured passes are used; a
  * call site that only runs while the fixture is built (the set-up
  * `append` and `overwrite` commits on migrate and churn) reports its
  * set-up calls instead. */
object Layers {
  val Calls: Seq[String] = Seq(
    "stages.collect", "stages.capture", "stages.create", "stages.verify_schema",
    "stages.migrate", "stages.verify_data",
    "catalog.commit.overwrite", "catalog.commit.append", "catalog.commit.upsertMoR",
    "catalog.commit.deleteMoREq", "catalog.commit.convertEqualityDeletes",
    "catalog.commit.compactDeleteFiles", "catalog.commit.expireSnapshots",
    "catalog.scan",
    "catalog.mv_refresh.agg_mv", "catalog.mv_refresh.join_mv",
    "ops.text_index.refresh",
    "sql")
  /** Nested phases timed on their own: planning (the read call plus forcing
    * `executedPlan`) and execution (the action). */
  val Phases: Seq[String] = Seq("catalog.scan.plan", "catalog.scan.exec", "sql.plan", "sql.exec")
  val SelfLayers: Seq[String] = Seq("stages", "catalog", "sql", "ops", "bench")

  /** (name, unit) in output order. */
  val names: Seq[(String, String)] =
    Calls.flatMap(k =>
      (if (k == "catalog.scan" || k == "sql") Nil else Seq(s"${k}_ms" -> "ms")) ++
        Seq(s"$k.jobs" -> "count", s"$k.tasks" -> "count")) ++
      Phases.map(p => s"${p}_ms" -> "ms") ++
      Seq("catalog.live_delete_files" -> "count", "catalog.refresh.full_share" -> "ratio",
        "spark.jobs" -> "count", "spark.tasks" -> "count",
        "spark.jobs_pass1" -> "count", "spark.tasks_pass1" -> "count",
        "spark.unattributed_jobs" -> "count") ++
      SelfLayers.map(l => s"self.${l}_ms" -> "ms") ++
      Seq("trace.wall_s" -> "s", "trace.bookkeeping_ms" -> "ms", "trace.spans" -> "count")

  def compute(t: Tracer, passes: Int, extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val spans = t.spans.toSeq
    val measured = spans.filter(_.pass > 0)
    def calls(k: String) = {
      val m = measured.filter(_.name == k)
      if (m.nonEmpty) m else spans.filter(_.name == k)
    }
    def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val v = scala.collection.mutable.Map.empty[String, Double]
    (Calls ++ Phases).foreach { k =>
      val cs = calls(k)
      v(s"${k}_ms") = Stats.median(cs.map(_.ms))
      v(s"$k.jobs") = mean(cs.map(t.jobsIn))
      v(s"$k.tasks") = mean(cs.map(t.tasksIn))
    }
    // one client operation = the outermost span of an op id
    def isOpRoot(s: Span) = s.op > 0 && (s.parent < 0 || spans(s.parent).op != s.op)
    val ops = measured.filter(isOpRoot)
    v("spark.jobs") = mean(ops.map(t.jobsIn))
    v("spark.tasks") = mean(ops.map(t.tasksIn))
    val pass1 = ops.filter(_.pass == 1)
    v("spark.jobs_pass1") = pass1.map(t.jobsIn).sum.toDouble
    v("spark.tasks_pass1") = pass1.map(t.tasksIn).sum.toDouble
    v("spark.unattributed_jobs") = t.unattributedJobs.toDouble
    SelfLayers.foreach { l =>
      v(s"self.${l}_ms") = measured.filter(_.layer == l).map(t.selfMs).sum / math.max(passes, 1)
    }
    v("trace.bookkeeping_ms") = t.bookkeepingNs / 1e6
    v("trace.spans") = spans.size.toDouble
    v ++= extra
    names.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }
}
