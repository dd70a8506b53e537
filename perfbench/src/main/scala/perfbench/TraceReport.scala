package perfbench

import scala.collection.mutable

/** Turns the traced run's per-query records into the per-layer metrics and
  * the span trace file. */
object TraceReport {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of [start, end] intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def spanS(l: Layers, kind: String): Double =
    l.spans.filter(_._1 == kind).map(s => s._3 - s._2).sum / 1000.0

  private def jobIv(j: JobRec): (Double, Double) =
    (j.startMs.toDouble, j.endMs.toDouble)

  /** Self time of a query span: its duration minus what its phase spans
    * cover, in ms. */
  def selfMs(l: Layers): Double =
    (l.endMs - l.startMs) - covered(l.spans.map(s => (s._2, s._3)))

  /** Per-pass totals of every per-layer quantity. */
  def passTotals(pass: Seq[Sample]): Map[String, Double] = {
    val t = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = t(k) = t(k) + v
    pass.foreach { s =>
      val l = s.layers.get
      val jobs = l.jobs
      val coveredS = covered(jobs.map(jobIv)) / 1000.0
      add("queries.build_s", spanS(l, "build"))
      add("queries.build_jobs", jobs.count(_.phase == "build"))
      add("queries.action_s", spanS(l, "execute"))
      add("catalyst.analysis_s", spanS(l, "analyze"))
      add("catalyst.optimization_s", spanS(l, "optimize"))
      add("catalyst.planning_s", spanS(l, "plan"))
      add("catalyst.codegen_compile_s", l.codegenS)
      add("catalyst.codegen_classes", l.codegenClasses.toDouble)
      add("catalyst.aqe_updates", l.aqeUpdates)
      add("materialize.jobs", jobs.count(_.materialize))
      add("materialize.s",
        covered(jobs.filter(_.materialize).map(jobIv)) / 1000.0)
      add("spark.scheduler.broadcast_jobs", jobs.count(_.broadcast))
      add("spark.scheduler.jobs", jobs.size)
      add("spark.scheduler.stages", l.stages)
      add("spark.scheduler.tasks", jobs.map(_.tasks).sum)
      add("spark.scheduler.single_task_jobs", jobs.count(_.tasks == 1))
      add("spark.scheduler.job_covered_s", coveredS)
      add("spark.scheduler.driver_gap_s", math.max(0.0, s.wallS - coveredS))
      add("spark.executor.run_s", jobs.map(_.runMs).sum / 1000.0)
      add("spark.executor.cpu_s", jobs.map(_.cpuNs).sum / 1e9)
      add("spark.executor.gc_s", jobs.map(_.gcMs).sum / 1000.0)
      add("spark.shuffle.write_bytes", jobs.map(_.shuffleWrite).sum.toDouble)
      add("spark.shuffle.read_bytes", jobs.map(_.shuffleRead).sum.toDouble)
      add("spark.shuffle.fetch_wait_s", jobs.map(_.fetchWaitMs).sum / 1000.0)
      add("spark.shuffle.spill_bytes", jobs.map(_.spill).sum.toDouble)
      add("spark.scan.bytes_read", jobs.map(_.inputBytes).sum.toDouble)
      add("spark.scan.records_read", jobs.map(_.inputRecords).sum.toDouble)
      add("output_rows", math.max(0L, s.rows).toDouble)
      add("wall_s", s.wallS)
      add("self_s", selfMs(l) / 1000.0)
      Recorder.Modules.foreach { m =>
        val mj = jobs.filter(_.module == m)
        add(s"module.$m.jobs", mj.size)
        add(s"module.$m.job_s", covered(mj.map(jobIv)) / 1000.0)
      }
    }
    t("spark.executor.busy_cores") =
      if (t("spark.scheduler.job_covered_s") > 0)
        t("spark.executor.run_s") / t("spark.scheduler.job_covered_s") else 0.0
    t("spark.scan.records_per_output_row") =
      if (t("output_rows") > 0) t("spark.scan.records_read") / t("output_rows")
      else 0.0
    t("trace.unattributed_self_share") =
      if (t("wall_s") > 0) t("self_s") / t("wall_s") else 0.0
    t.toMap
  }

  /** Queries whose exact work counters differ between two passes. */
  def countWitnessDiffs(a: Seq[Sample], b: Seq[Sample]): Seq[String] = {
    def key(s: Sample) = {
      val j = s.layers.get.jobs
      (j.size, j.map(_.tasks).sum, j.map(_.shuffleWrite).sum,
        j.map(_.shuffleRead).sum)
    }
    val bm = b.map(s => s.query -> key(s)).toMap
    a.filter(s => bm.get(s.query).exists(_ != key(s))).map(_.query).sorted
  }

  /** The per-layer metrics: warm-pass medians, except codegen, which is
    * reported for the cold pass (its warm count should be ≈0). */
  def layers(cold: Seq[Sample], warm: Seq[Seq[Sample]],
      errors: ErrorCounter): Map[String, Any] = {
    val coldT = passTotals(cold)
    val warmT = warm.map(passTotals)
    val keys = coldT.keys.filterNot(Set("output_rows", "wall_s", "self_s"))
    val m = mutable.LinkedHashMap.empty[String, Any]
    keys.toSeq.sorted.foreach { k =>
      m(k) = if (k.startsWith("catalyst.codegen")) coldT(k)
        else median(warmT.map(_(k)))
    }
    m("catalyst.codegen_classes_warm") =
      median(warmT.map(_("catalyst.codegen_classes")))
    m("log.error_lines") = errors.total.toDouble
    m("spark.scheduler.count_witness_diffs") =
      countWitnessDiffs(warm(0), warm(1)).size.toDouble
    m.toMap
  }

  /** The span trace: one query span per execution with its phase spans and
    * listener job spans, all in ms since the run started. */
  def trace(workload: String, seed: Long, runStartEpochMs: Long,
      samples: Seq[Sample], errors: ErrorCounter): Map[String, Any] = {
    val warm = samples.filter(_.pass > 0).groupBy(_.pass).toSeq.sortBy(_._1)
      .map(_._2)
    val spans = samples.zipWithIndex.map { case (s, id) =>
      val l = s.layers.get
      val jobs = l.jobs.sortBy(_.startMs).map { j =>
        val (st, en) = jobIv(j)
        Map("job" -> j.id, "start_ms" -> (st - runStartEpochMs),
          "dur_ms" -> (en - st), "phase" -> j.phase, "call_site" -> j.callSite,
          "module" -> j.module, "stages" -> j.stagesRun, "tasks" -> j.tasks,
          "broadcast" -> j.broadcast, "materialize" -> j.materialize,
          "run_ms" -> j.runMs, "shuffle_write_bytes" -> j.shuffleWrite,
          "shuffle_read_bytes" -> j.shuffleRead)
      }
      val jobIvRel = l.jobs.map(jobIv).map { case (a, b) =>
        (a - runStartEpochMs, b - runStartEpochMs) }
      Map("id" -> id, "query" -> s.query, "pass" -> s.pass,
        "start_ms" -> l.startMs, "dur_ms" -> (l.endMs - l.startMs),
        "self_ms" -> selfMs(l), "wall_s" -> s.wallS, "error" -> s.error,
        "rows" -> s.rows,
        "children" -> l.spans.map { case (kind, st, en) =>
          val inside = jobIvRel.map { case (a, b) =>
            (math.max(a, st), math.min(b, en)) }.filter(x => x._2 > x._1)
          Map("kind" -> kind, "start_ms" -> st, "dur_ms" -> (en - st),
            "self_ms" -> ((en - st) - covered(inside)))
        },
        "jobs" -> jobs)
    }
    val errs = mutable.LinkedHashMap.empty[String, Int]
    errors.byQuery.forEach((k, v) => errs(k) = v)
    Map("workload" -> workload, "seed" -> seed,
      "count_witness_diffs" -> (if (warm.size >= 2)
        countWitnessDiffs(warm(0), warm(1)) else Seq.empty),
      "error_lines_by_query" -> errs,
      "spans" -> spans)
  }
}
