package graft.perfbench

import scala.collection.mutable

/** A reported metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** Turns op results, spans and listener events into the named metrics. */
object Summary {

  /** End-to-end metrics of one phase's ops (tracing off for the reported
    * run). `elapsedS` is the phase's wall time, client work included.
    */
  def endToEnd(ops: Seq[OpResult], elapsedS: Double): mutable.LinkedHashMap[String, Metric] = {
    val secs = ops.map(_.seconds)
    mutable.LinkedHashMap(
      "ops_per_s" -> Metric(ops.size / elapsedS, "1/s"),
      "op_p50_s" -> Metric(Stats.median(secs), "s"),
      "op_p90_s" -> Metric(Stats.percentile(secs, 0.9), "s"),
      "cpu_s_per_op" -> Metric(ops.map(_.cpuS).sum / ops.size, "s"))
  }

  /** Write/read latency split of the `table_rw` ops. */
  def readWrite(ops: Seq[OpResult]): Seq[(String, Metric)] = {
    val (w, r) = ops.partition(_.write)
    def pct(xs: Seq[OpResult], p: Double) =
      if (xs.isEmpty) Double.NaN else Stats.percentile(xs.map(_.seconds), p)
    Seq("write_p50_s" -> Metric(pct(w, 0.5), "s"), "write_p90_s" -> Metric(pct(w, 0.9), "s"),
      "read_p50_s" -> Metric(pct(r, 0.5), "s"), "read_p90_s" -> Metric(pct(r, 0.9), "s"))
  }

  val OperatorGroups: Seq[String] = Seq("operators.dedup", "operators.ann_build",
    "operators.ann_probe", "operators.text", "operators.contamination", "operators.mix",
    "ml.train", "ml.eval")

  val SourceGroups: Seq[String] =
    RwOp.allKinds.map(k => if (k == "stream_batch") "streaming.batch" else s"sources.$k")

  /** Spark work attributed to one op. */
  final case class OpSpark(sqlExecs: Int, jobs: Int, stages: Seq[StageRec], selfS: Double,
                           plans: Seq[PlanRec], skew: Option[Double]) {
    /** Op wall time covered by at least one of its Spark jobs. */
    def jobBusyS(op: OpResult): Double = op.seconds - selfS
  }

  def attribute(op: OpResult, l: RunListener): OpSpark = {
    val jobs = l.jobs.values.filter(_.op == op.id).toSeq
    val stages = jobs.flatMap(_.stageIds).distinct.flatMap(l.stages.get)
    // the op's self time: its span minus the Spark job spans under it
    val selfMs = Stats.selfTime(op.start, op.end,
      jobs.map(j => (j.start, if (j.end.isNaN) op.end else j.end)))
    def inOp(t: Double) = t >= op.start - 1 && t <= op.end + 1
    val plans = l.plans.filter(p => inOp(p.start))
    val skews = stages.flatMap { s =>
      l.taskMs.get(s.stageId).filter(_.size >= 2).map { ts =>
        val med = Stats.median(ts.toSeq)
        if (med > 0) ts.max / med else 1.0
      }
    }
    OpSpark(l.sqlExecStarts.count(inOp), jobs.size, stages, selfMs / 1e3, plans.toSeq,
      skews.maxOption)
  }

  /** Per-layer metrics of the traced phase. Time and count metrics are
    * means per op (per op of the group, for a layer group); counters and
    * fractions are over the whole traced phase.
    */
  def perLayer(ops: Seq[OpResult], l: RunListener,
               spans: Seq[Span]): mutable.LinkedHashMap[String, Metric] = {
    val out = mutable.LinkedHashMap.empty[String, Metric]
    val att = ops.map(o => o -> attribute(o, l))
    val n = math.max(1, ops.size).toDouble
    def perOp(name: String, unit: String)(f: (OpResult, OpSpark) => Double): Unit =
      out(name) = Metric(att.map { case (o, a) => f(o, a) }.sum / n, unit)
    def stageSum(f: StageRec => Double)(a: OpSpark) = a.stages.map(f).sum

    perOp("spark.sql_execs", "count/op")((_, a) => a.sqlExecs)
    perOp("spark.jobs", "count/op")((_, a) => a.jobs)
    perOp("spark.stages", "count/op")((_, a) => a.stages.size)
    perOp("spark.tasks", "count/op")((_, a) => stageSum(_.numTasks)(a))
    perOp("spark.job_busy_s", "s/op")((o, a) => a.jobBusyS(o))
    perOp("spark.driver_gap_s", "s/op")((_, a) => a.selfS)
    val wall = ops.map(_.seconds).sum
    out("spark.driver_gap_frac") = Metric(
      if (wall > 0) att.map(_._2.selfS).sum / wall else 0.0, "frac")
    perOp("spark.analysis_s", "s/op")((_, a) => a.plans.map(_.analysisS).sum)
    perOp("spark.optimize_s", "s/op")((_, a) => a.plans.map(_.optimizeS).sum)
    perOp("spark.planning_s", "s/op")((_, a) => a.plans.map(_.planningS).sum)
    perOp("spark.executor_run_s", "s/op")((_, a) => stageSum(_.runS)(a))
    perOp("spark.executor_cpu_s", "s/op")((_, a) => stageSum(_.cpuS)(a))
    perOp("spark.gc_s", "s/op")((_, a) => stageSum(_.gcS)(a))
    perOp("spark.shuffle_read_bytes", "B/op")((_, a) => stageSum(_.shuffleRead.toDouble)(a))
    perOp("spark.shuffle_write_bytes", "B/op")((_, a) => stageSum(_.shuffleWrite.toDouble)(a))
    perOp("spark.spill_bytes", "B/op")((_, a) => stageSum(_.spill.toDouble)(a))
    perOp("spark.input_bytes", "B/op")((_, a) => stageSum(_.input.toDouble)(a))
    perOp("spark.output_bytes", "B/op")((_, a) => stageSum(_.output.toDouble)(a))
    val scans = att.flatMap(_._2.plans)
    val live = scans.map(_.filesLive).sum
    out("spark.files_pruned_frac") = Metric(
      if (live > 0) 1.0 - scans.map(_.filesRead).sum.toDouble / live else 0.0, "frac")
    val skews = att.flatMap(_._2.skew)
    out("spark.task_skew") = Metric(Stats.mean(skews), "ratio")
    out("spark.failed_tasks") = Metric(l.failedTasks.toDouble, "count")
    out("spark.unattributed_jobs") =
      Metric(l.jobs.values.count(_.op == RunListener.NoOp).toDouble, "count")

    def spanMean(name: String) = {
      val ss = spans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(s => s.end - s.start).sum / 1e3 / n
    }
    out("queries.build_s") = Metric(spanMean("queries.build"), "s/op")
    out("queries.action_s") = Metric(spanMean("queries.action"), "s/op")
    perOp("plans.native_nodes", "count/op")((_, a) => a.plans.map(_.nativeNodes).sum)

    for (g <- OperatorGroups) {
      val in = att.filter(_._1.group == g)
      val k = math.max(1, in.size).toDouble
      out(s"$g.busy_s") = Metric(in.map(_._1.seconds).sum / k, "s/op")
      out(s"$g.self_s") = Metric(in.map(_._2.selfS).sum / k, "s/op")
      out(s"$g.jobs") = Metric(in.map(_._2.jobs).sum / k, "count/op")
      out(s"$g.executor_cpu_s") = Metric(in.map(x => stageSum(_.cpuS)(x._2)).sum / k, "s/op")
    }
    for (g <- SourceGroups) {
      val in = att.filter(_._1.group == g)
      val k = math.max(1, in.size).toDouble
      out(s"$g.p50_s") =
        Metric(if (in.isEmpty) 0.0 else Stats.median(in.map(_._1.seconds)), "s")
      out(s"$g.busy_s") = Metric(in.map(_._1.seconds).sum / k, "s/op")
      out(s"$g.self_s") = Metric(in.map(_._2.selfS).sum / k, "s/op")
      out(s"$g.jobs") = Metric(in.map(_._2.jobs).sum / k, "count/op")
    }
    out
  }

  /** Spans plus one span per attributed Spark job, as JSON lines. */
  def traceLines(spans: Seq[Span], l: RunListener): Seq[String] = {
    val opSpan = spans.filter(_.parent == -1).map(s => s.op -> s.id).toMap
    val jobSpans = l.jobs.values.toSeq.map { j =>
      Span(-j.jobId - 1, s"spark.job", j.start, if (j.end.isNaN) j.start else j.end,
        opSpan.getOrElse(j.op, -1), j.op)
    }
    (spans ++ jobSpans).sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end),
        "parent" -> s.parent.toString, "op" -> s.op.toString))
    }
  }

  /** Every op of the run, all phases, as JSON lines. */
  def opLines(ops: Seq[OpResult]): Seq[String] =
    ops.map { o =>
      Json.obj(Seq("op" -> o.id.toString, "kind" -> Json.str(o.kind), "group" -> Json.str(o.group),
        "phase" -> Json.str(o.phase), "seconds" -> Json.num(o.seconds),
        "cpu_s" -> Json.num(o.cpuS), "error" -> o.error.map(Json.str).getOrElse("null")))
    }
}
