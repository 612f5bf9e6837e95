package perfbench

/** Per-layer metrics from a traced run. Every metric is reported on every
  * workload; a layer a workload never calls reads 0 on counts and shares.
  *
  * Layers of a span are the engine package the benchmark called; layers of a
  * job come from its call site ([[JobRec.layer]]). Self (driver) time of a
  * span is its duration minus the part of it that its jobs cover. Values that
  * set-up and passes both contribute to are per set-up plus per pass. */
object Layers {

  private val MB = 1024.0 * 1024.0

  def metrics(t: Tracer, passes: Seq[Main.Pass], counts: Map[String, Double]): Seq[(String, Double, String)] = {
    val spans = t.allSpans
    val jobs = t.allJobs
    val byGroup = jobs.groupBy(_.group).withDefaultValue(Seq.empty)
    val spanLayer = spans.map(s => s.id -> s.layer).toMap
    def jobLayer(j: JobRec) = j.layer(spanLayer.getOrElse(j.group, "bench"))
    val setup = spans.filter(_.phase == "setup")
    val pass = spans.filter(_.phase == "pass")
    val nSetup = math.max(1, setup.map(_.round).distinct.size)
    val nPass = math.max(1, pass.map(_.round).distinct.size)
    /** per set-up + per pass */
    def perRun(f: Seq[Span] => Double): Double = f(setup) / nSetup + f(pass) / nPass
    def perPass(f: Seq[Span] => Double): Double = f(pass) / nPass

    def dur(s: Span) = (s.end - s.start).toDouble
    /** Time in [from, to] that jobs of the span cover. */
    def coveredIn(s: Span, from: Long, to: Long): Double = {
      val iv = byGroup(s.id).map(j => (math.max(j.start, from), math.min(j.end, to)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total, curA, curB = 0L
      var open = false
      iv.foreach { case (a, b) =>
        if (open && a <= curB) curB = math.max(curB, b)
        else { if (open) total += curB - curA; curA = a; curB = b; open = true }
      }
      if (open) total += curB - curA
      total.toDouble
    }
    def covered(s: Span) = coveredIn(s, s.start, s.end)
    def self(s: Span) = dur(s) - covered(s)
    def inLayer(ss: Seq[Span], l: String) = ss.filter(_.layer == l)
    def jobsOf(ss: Seq[Span]) = ss.flatMap(s => byGroup(s.id))

    // superstep jobs: launched from inside the loop driver. A superstep runs
    // from the end of one such job to the end of the next; its driver time
    // is the part of that interval no job covers.
    val superstepSpans = pass.map(s => s -> byGroup(s.id).filter(j =>
      jobLayer(j) == "core" && j.site.contains("graft.core.IterativeRunner")).sortBy(_.end))
      .filter(_._2.nonEmpty)
    val steps = superstepSpans.flatMap(_._2)
    val gaps = superstepSpans.flatMap { case (s, js) =>
      js.sliding(2).collect { case Seq(p, n) =>
        (n.end - p.end).toDouble -> (n.end - p.end - coveredIn(s, p.end, n.end))
      }
    }
    val nSteps = math.max(1, steps.size).toDouble

    val opMetrics = Workloads.allOps.flatMap { op =>
      val untraced = passes.filterNot(_.traced)
      val share = if (untraced.isEmpty) 0.0
        else untraced.map(p => p.opSeconds.getOrElse(op, 0.0) / p.seconds).sum / untraced.size
      val ss = pass.filter(_.name == op)
      val drv = if (ss.isEmpty) 0.0 else ss.map(self).sum / ss.map(dur).sum
      Seq((s"op.$op.pass_frac", share, "ratio"), (s"op.$op.driver_frac", drv, "ratio"))
    }

    val derive = (ss: Seq[Span]) => inLayer(ss, "derive")
    val named = (names: Set[String]) => (ss: Seq[Span]) => ss.filter(s => names(s.name))
    Seq(
      ("model.gen_s", perRun(ss => inLayer(ss, "model").map(dur).sum) / 1000, "s"),
      ("sources.read_s", perRun(ss => inLayer(ss, "sources").map(dur).sum) / 1000, "s"),
      ("sources.jobs", perRun(ss => jobsOf(ss).count(jobLayer(_) == "sources").toDouble), "count"),
      ("sources.write_mb", perRun(ss => jobsOf(ss).filter(jobLayer(_) == "sources").map(_.outputBytes).sum / MB),
        "MB"),
      ("sources.ckpt_jobs", perPass(ss => jobsOf(named(Set("ckpt_pagerank"))(ss))
        .count(jobLayer(_) == "sources").toDouble), "count"),
      ("sources.ckpt_write_mb", perPass(ss => jobsOf(named(Set("ckpt_pagerank"))(ss))
        .filter(jobLayer(_) == "sources").map(_.outputBytes).sum / MB), "MB"),
      ("derive.driver_s", perRun(ss => derive(ss).map(self).sum) / 1000, "s"),
      ("derive.job_s", perRun(ss => derive(ss).map(covered).sum) / 1000, "s"),
      ("derive.jobs", perRun(ss => jobsOf(derive(ss)).size.toDouble), "count"),
      ("derive.shuffle_mb", perRun(ss => jobsOf(derive(ss)).map(_.shuffleWriteBytes).sum / MB), "MB"),
      ("derive.spill_mb", perRun(ss => jobsOf(derive(ss)).map(_.spillBytes).sum / MB), "MB"),
      ("core.supersteps", steps.size.toDouble / nPass, "count"),
      ("core.superstep_ms_p50", Main.quantile(gaps.map(_._1), 0.5), "ms"),
      ("core.superstep_ms_p75", Main.quantile(gaps.map(_._1), 0.75), "ms"),
      ("core.driver_ms_per_superstep", Main.median(gaps.map(_._2)), "ms"),
      ("core.task_ms_per_superstep", steps.map(_.taskMs).sum / nSteps, "ms"),
      ("core.gc_frac", steps.map(_.gcMs).sum.toDouble / math.max(1L, steps.map(_.taskMs).sum), "ratio"),
      ("core.shuffle_mb_per_superstep", steps.map(_.shuffleWriteBytes).sum / MB / nSteps, "MB"),
      ("core.jobs_per_superstep", superstepSpans.map(s => byGroup(s._1.id).size).sum / nSteps, "ratio"),
      ("core.pre_loop_s", superstepSpans.map { case (s, js) => (js.map(_.start).min - s.start).toDouble }.sum
        / nPass / 1000, "s"),
      ("core.storage_peak_mb", t.storagePeakBytes / MB, "MB"),
      ("algo.pr_iterations", counts.getOrElse("algo.pr_iterations", 0.0), "count"),
      ("algo.frontier_iterations", counts.getOrElse("algo.frontier_iterations", 0.0), "count"),
      ("algo.frontier_active_frac", counts.getOrElse("algo.frontier_active_frac", 0.0), "ratio"),
      ("algo.frontier_max_rel_diff", counts.getOrElse("algo.frontier_max_rel_diff", 0.0), "ratio"),
      ("algo.cc_jobs", perPass(ss => jobsOf(named(Set("cc"))(ss)).size.toDouble), "count"),
      ("algo.cc_shuffle_mb", perPass(ss => jobsOf(named(Set("cc"))(ss)).map(_.shuffleWriteBytes).sum / MB), "MB"),
      ("algo.lpa_shuffle_mb", perPass(ss => jobsOf(named(Set("lpa"))(ss)).map(_.shuffleWriteBytes).sum / MB), "MB"),
      ("algo.linkpred_wedges_per_pair", counts.getOrElse("algo.linkpred_wedges_per_pair", 0.0), "ratio"),
      ("spark.task_failures", jobs.map(_.failedTasks).sum.toDouble, "count"),
      ("spark.stage_reattempts", jobs.map(_.stageReattempts).sum.toDouble, "count"),
    ) ++ opMetrics
  }
}
