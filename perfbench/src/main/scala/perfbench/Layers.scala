package perfbench

/** The per-layer metrics of the traced run, computed from its spans and the
  * listener's job/stage/task records. Every value is a median over the
  * run's calls of that span; a span the workload never calls reads 0.
  */
object Layers {
  /** Spans that record all eight quantities. */
  val Full: Seq[String] = Seq("index.build", "index.builder", "index.blocks",
    "index.append", "index.fold", "index.vacuum", "query.exh", "query.wand",
    "query.zto", "query.batch")
  /** Spans that record self time, jobs and driver gap only. */
  val Light: Seq[String] = Seq("index.read", "index.read_blocks", "index.remove")

  private val FullQuantities = Seq("s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "driver_gap_s" -> "s", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "task_skew" -> "ratio")
  private val LightQuantities = Seq("s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s")
  private val SpanQuantities = Full.map(_ -> FullQuantities) ++ Light.map(_ -> LightQuantities)

  /** Counts the benchmark takes around a span: (metric, span, count key). */
  private val Counted = Seq(
    ("index.build.files_written", "index.build", "files_written", "count"),
    ("index.build.mb_written", "index.build", "mb_written", "MB"),
    ("index.blocks.files_written", "index.blocks", "files_written", "count"),
    ("index.blocks.mb_written", "index.blocks", "mb_written", "MB"),
    ("index.append.files_written", "index.append", "files_written", "count"),
    ("index.vacuum.mb_rewritten", "index.vacuum", "mb_written", "MB"),
    ("query.wand.survivor_ratio", "query.wand", "survivor_ratio", "ratio"))

  /** Every per-layer metric: name → unit. */
  val Catalogue: Seq[(String, String)] =
    SpanQuantities.flatMap { case (s, qs) => qs.map { case (q, u) => s"$s.$q" -> u } } ++
      Counted.map(c => c._1 -> c._4) ++
      Seq("storage.cached_mb_end" -> "MB", "trace.coverage" -> "ratio")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of `iv`, each clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-call quantities of one span. */
  private def perCall(t: Tracer, c: Collector, s: Span, children: Seq[Span]): Map[String, Double] = {
    val group = Tracer.GroupPrefix + s.id
    val (jobs, tasksByStage) = c.synchronized {
      val js = c.jobs.values.filter(_.group == group).toSeq
      val stages = c.stageGroup.collect { case (st, g) if g == group => st }.toSeq
      (js, stages.map(st => c.stageTasks.get(st).map(_.toSeq).getOrElse(Nil)).filter(_.nonEmpty))
    }
    val tasks = tasksByStage.flatten
    val self = s.durNs - covered(children.map(ch => (ch.startNs, ch.endNs)), s.startNs, s.endNs)
    val jobIv = jobs.map(j => (t.msToNs(j.startMs), if (j.endMs < 0) s.endNs else t.msToNs(j.endMs)))
    val gap = s.durNs - covered(jobIv, s.startNs, s.endNs)
    val skew = if (tasksByStage.isEmpty) Nil else {
      val runs = tasksByStage.maxBy(_.map(_.runMs).sum).map(_.runMs.toDouble)
      Seq(runs.max / math.max(median(runs), 1.0))
    }
    Map("s" -> self / 1e9, "jobs" -> jobs.size.toDouble, "tasks" -> tasks.size.toDouble,
      "task_s" -> tasks.map(_.runMs).sum / 1e3, "driver_gap_s" -> gap / 1e9,
      "shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / 1e6,
      "spill_mb" -> tasks.map(_.spillBytes).sum / 1e6) ++
      skew.map("task_skew" -> _) ++ s.counts
  }

  /** All per-layer metrics of a traced run. `loopNs` is the wall time of the
    * measured loop, `cachedMb` the storage still held at the end.
    */
  def compute(t: Tracer, loopNs: Long, cachedMb: Double): Map[String, Double] = {
    val c = t.collector.getOrElse(sys.error("per-layer metrics need the traced run"))
    val byParent = t.spans.groupBy(_.parent)
    val calls: Map[String, Seq[Map[String, Double]]] = t.spans.toSeq.groupBy(_.name).map {
      case (name, ss) => name -> ss.map(s => perCall(t, c, s, byParent.getOrElse(s.id, Nil).toSeq))
    }
    def med(span: String, q: String): Double =
      median(calls.getOrElse(span, Nil).flatMap(_.get(q)))
    val spanMetrics = SpanQuantities.flatMap { case (s, qs) =>
      qs.map { case (q, _) => s"$s.$q" -> med(s, q) }
    }.toMap
    val counted = Counted.map { case (name, span, key, _) => name -> med(span, key) }.toMap
    // the measured loop's top-level spans are the requests; setup is not
    // part of the loop
    val topLevel = t.spans.filter(s => s.parent == 0 && s.name.startsWith("request.")).map(_.durNs).sum
    spanMetrics ++ counted ++ Map("storage.cached_mb_end" -> cachedMb,
      "trace.coverage" -> topLevel.toDouble / math.max(loopNs, 1L))
  }
}
