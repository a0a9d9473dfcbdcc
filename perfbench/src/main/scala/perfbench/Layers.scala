package perfbench

/** Per-layer numbers of a traced run: per op from the spans and the
  * listener counters, then averaged over the traced ops. */
object Layers {
  /** Counts that must repeat exactly across identical ops before a
    * claim can rest on them. */
  val Counts = Seq("spark.jobs", "spark.stages", "spark.tasks")

  private def layerOf(span: String): String =
    if (span.startsWith("op.")) "perfbench"
    else if (span.startsWith("ops.")) "ops"
    else span.split('.').take(2).mkString(".")

  /** Span names as metrics: every GeoCalculator / CorpusPipeline call
    * keeps its own name; query-building calls fold into `ops.build`. */
  private def metricOf(span: String): String =
    if (span.startsWith("op.")) "op"
    else if (span.startsWith("ops.")) "ops.build"
    else span

  def perOp(t: Tracer, c: SparkCounters, before: Map[String, Long],
            after: Map[String, Long], start: Long, end: Long,
            gcMs: Long, codegenNs: Long, cores: Int): Map[String, Double] = {
    def d(k: String) = (after(k) - before(k)).toDouble
    val wall = (end - start).toDouble
    val jobs = c.synchronized(c.jobSpans.toList)
      .filter { case (_, s, _) => s >= start && s <= end }
      .map { case (_, s, e) => (s, e) }
    val jobNs = Intervals.covered(jobs, start, end).toDouble
    val spans = t.spans.filter(_.op == t.op).toSeq

    // self time: a span minus its direct child spans and the jobs that
    // started inside it but inside none of its children
    def innermost(at: Long) = spans.filter(s => s.start <= at && at <= s.end)
      .sortBy(-_.start).headOption.map(_.id)
    val jobsBySpan = jobs.groupBy { case (s, _) => innermost(s) }
    val self = spans.map { s =>
      val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)) ++
        jobsBySpan.getOrElse(Some(s.id), Nil)
      layerOf(s.name) -> (s.end - s.start - Intervals.covered(kids, s.start, s.end)).toDouble
    }.groupMapReduce(_._1)(_._2)(_ + _)

    val durations = spans.groupMapReduce(s => metricOf(s.name))(s => (s.end - s.start).toDouble)(_ + _)

    durations.map { case (k, v) => s"${k}_s" -> v / 1e9 } ++
      self.map { case (k, v) => s"self.${k}_s" -> v / 1e9 } ++
      Map(
        "self.spark.jobs_s" -> jobNs / 1e9,
        "spark.jobs" -> d("jobs"),
        "spark.stages" -> d("stages"),
        "spark.tasks" -> d("tasks"),
        "spark.plan_s" -> d("plan_ns") / 1e9,
        "spark.codegen_s" -> codegenNs / 1e9,
        "spark.driver_gap_s" -> (wall - jobNs) / 1e9,
        "spark.executor_cpu_s" -> d("executor_cpu_ns") / 1e9,
        "spark.executor_busy_share" -> d("executor_run_ms") * 1e6 / (wall * cores),
        "spark.gc_s" -> gcMs / 1e3,
        "spark.shuffle_write_mb" -> d("shuffle_write") / 1048576.0,
        "spark.shuffle_read_mb" -> d("shuffle_read") / 1048576.0,
        "spark.spill_mb" -> d("spill") / 1048576.0,
        "Tables.checkpoint_mb" -> d("rdd_blocks") / 1048576.0,
        "Tables.pinned_rdds" -> graft.Tables.pinnedRddIds.size.toDouble,
        "io.output_mb" -> d("output") / 1048576.0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer values of the timed rounds: means over the traced ops,
    * per-query figures for query_mix, count spreads, session starts and
    * the tracing overhead (traced minus untraced median round). */
  def summary(wl: Workload, samples: Seq[Main.Sample], rounds: Seq[Main.Round]): Map[String, Double] = {
    val traced = samples.filter(_.traced)
    val keys = traced.flatMap(_.layers.keys).distinct
    val means = keys.map(k => k -> traced.map(_.layers.getOrElse(k, 0.0)).sum / traced.size).toMap
    val perQuery = wl match {
      case _: QueryMix => traced.groupBy(_.op).flatMap { case (q, ss) =>
        Seq(s"ops.${q}_s" -> ss.map(_.wallNs / 1e9).sum / ss.size,
          s"ops.${q}_jobs" -> ss.map(_.layers("spark.jobs")).sum / ss.size)
      }
      case _ => Map.empty[String, Double]
    }
    val spreads = Counts.map(k => s"${k}_spread" -> traced.groupBy(_.op).values
      .map(ss => ss.map(_.layers(k)).max - ss.map(_.layers(k)).min).max).toMap
    def roundMedian(t: Boolean) = median(rounds.filter(_.traced == t).map(_.opNs / 1e9))
    means ++ perQuery ++ spreads ++ Map(
      "GraftSession.start_s" -> median(rounds.map(_.sessionNs / 1e9)),
      "trace.overhead_s" -> (roundMedian(true) - roundMedian(false)))
  }

  /** Per count: whether it repeated exactly over the traced ops of the
    * same name, or the range of every op name where it varied. */
  def countSpread(samples: Seq[Main.Sample]): Map[String, String] = {
    val traced = samples.filter(_.traced)
    if (traced.isEmpty) Map.empty
    else Counts.map { k =>
      val byOp = traced.groupBy(_.op).map { case (op, ss) =>
        val v = ss.map(_.layers(k))
        (op, v.min, v.max)
      }
      val varying = byOp.filter { case (_, lo, hi) => hi > lo }
      k -> (if (traced.groupBy(_.op).values.exists(_.size < 2)) "one traced op per name: cannot tell"
      else if (varying.isEmpty) {
        if (byOp.size == 1) f"${byOp.head._2}%.0f per op (repeats)"
        else s"repeats exactly for all ${byOp.size} queries"
      } else varying.toSeq.sortBy(_._1).map { case (op, lo, hi) =>
        f"$op $lo%.0f..$hi%.0f"
      }.mkString("varies: ", ", ", ""))
    }.toMap
  }

  /** Every span, and every Spark job as a child span of the innermost
    * span open when it started, ready for JSON. */
  def spans(t: Tracer, c: SparkCounters): Map[String, Seq[Map[String, Any]]] = {
    val spans = t.spans.toSeq.map(s => Map(
      "id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
      "parent" -> s.parent, "op" -> s.op))
    val jobs = c.synchronized(c.jobSpans.toList).map { case (id, s, e) =>
      val parent = t.spans.filter(p => p.start <= s && s <= p.end).sortBy(-_.start).headOption
      Map("job" -> id, "start_ns" -> s, "end_ns" -> e,
        "parent" -> parent.map(_.id).getOrElse(-1), "op" -> parent.map(_.op).getOrElse(-1))
    }
    Map("spans" -> spans, "jobs" -> jobs)
  }
}
