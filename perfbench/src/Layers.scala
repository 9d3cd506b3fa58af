package graft.perfbench

/** Per-layer metrics of a traced run: each is computed per traced pass
  * (sums over the pass's ops, or a ratio) and reported as the median over
  * the traced passes. A layer the workload does not exercise reads 0.
  */
object Layers {

  final case class TracedPass(wall: Double, ops: Seq[(String, Counters)],
      codegen: Long, jitS: Double, gcS: Double)

  def perLayer(ctx: Ctx, w: Workload, passes: Seq[TracedPass],
      untracedPassS: Double): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val nOps = w.ops.size
    val self = tr.selfTimes()
    val byPass = tr.spans.groupBy(_.op / nOps).toSeq.sortBy(_._1).map(_._2)
    require(byPass.size == passes.size, s"${byPass.size} traced span groups for ${passes.size} passes")
    val geoBytes = if (ctx.args.workload == "pipeline") w.storedBytes().toDouble else 0.0

    val rows: Seq[Map[String, Double]] = byPass.zip(passes).map { case (spans, p) =>
      def dur(name: String): Double =
        spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
      def selfOf(layer: String): Double =
        spans.filter(_.layer == layer).map(s => self(s.id) / 1e9).sum
      def sumC(f: Counters => Long): Double = p.ops.map(o => f(o._2)).sum.toDouble
      def opC(name: String)(f: Counters => Long): Double =
        p.ops.filter(_._1 == name).map(o => f(o._2)).sum.toDouble
      val jobGap = spans.filter(_.parent == -1).map { root =>
        val jobs = spans.filter(s => s.op == root.op && s.name == "spark.job").map(s => (s.start, s.end))
        (root.end - root.start - tr.covered(jobs, root.start, root.end)) / 1e9
      }.sum
      def mbPerS(bytes: Long, span: String): Double = {
        val t = dur(span)
        if (t > 0) bytes / 1e6 / t else 0.0
      }
      val winScan = opC("geo_window")(_.scanRows)
      val cand = Facts.prefixCandidates.toDouble
      Map(
        "queries.body_s" -> dur("queries.body"),
        "queries.plan_s" -> dur("queries.plan"),
        "queries.exec_s" -> dur("queries.exec"),
        "queries.self_s" -> selfOf("queries"),
        "spark.jobs" -> sumC(_.jobs),
        "spark.stages" -> sumC(_.stages),
        "spark.tasks" -> sumC(_.tasks),
        "spark.job_gap_s" -> jobGap,
        "spark.task_run_s" -> sumC(_.taskRunMs) / 1e3,
        "spark.codegen_compiles" -> p.codegen.toDouble,
        "spark.shuffle_write_bytes" -> sumC(_.shuffleWrite),
        "spark.shuffle_read_bytes" -> sumC(_.shuffleRead),
        "spark.spill_bytes" -> sumC(_.spill),
        "spark.self_s" -> selfOf("spark"),
        "jvm.gc_s" -> p.gcS,
        "jvm.jit_s" -> p.jitS,
        "geo.write_s" -> dur("geo.write"),
        "geo.read_s" -> dur("geo.read"),
        "geo.bytes_written" -> geoBytes,
        "geo.self_s" -> selfOf("geo"),
        "plans.scan_rows_ratio" ->
          (if (Facts.lakeRows > 0) winScan / Facts.lakeRows else 0.0),
        "plans.bnl_joins" -> sumC(_.bnlJoins),
        "functions.match_ratio" ->
          (if (winScan > 0) opC("geo_window")(_.filterOutRows) / winScan else 0.0),
        "operators.prefix_pairs_s" -> dur("operators.prefix_pairs"),
        "operators.prefix_candidates" -> cand,
        "operators.prefix_useful_ratio" ->
          (if (cand > 0) Facts.prefixUseful / cand else 0.0),
        "operators.linededup_s" -> dur("operators.linededup"),
        "operators.bsj_s" -> dur("operators.bsj"),
        "operators.decode_mb_s.xz" -> mbPerS(Facts.xz, "operators.decode.xz"),
        "operators.decode_mb_s.flac" -> mbPerS(Facts.flac, "operators.decode.flac"),
        "operators.decode_mb_s.bzip2" -> mbPerS(Facts.xz, "operators.decode.bzip2"),
        "operators.decode_mb_s.lz4" -> mbPerS(Facts.xz, "operators.decode.lz4"),
        "operators.self_s" -> selfOf("operators"),
        "streaming.batches" -> sumC(_.batches),
        "streaming.batch_s" -> sumC(_.batchMs) / 1e3,
        "streaming.state_rows" -> p.ops.map(_._2.stateRows).foldLeft(0L)(math.max).toDouble,
        "op.self_s" -> selfOf("op"),
        "trace.pass_s" -> p.wall)
    }
    val tracedPassS = PerfBench.median(passes.map(_.wall))
    def med(k: String): Double = PerfBench.median(rows.map(_(k)))
    Units.map { case (k, u) =>
      if (k == "trace.overhead_ratio") (k, tracedPassS / untracedPassS, u)
      else (k, med(k), u)
    }
  }

  /** Every per-layer metric, in output order, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "queries.body_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.self_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_gap_s" -> "s", "spark.task_run_s" -> "s", "spark.codegen_compiles" -> "count",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.self_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "geo.write_s" -> "s", "geo.read_s" -> "s", "geo.bytes_written" -> "B", "geo.self_s" -> "s",
    "plans.scan_rows_ratio" -> "ratio", "plans.bnl_joins" -> "count",
    "functions.match_ratio" -> "ratio",
    "operators.prefix_pairs_s" -> "s", "operators.prefix_candidates" -> "count",
    "operators.prefix_useful_ratio" -> "ratio", "operators.linededup_s" -> "s", "operators.bsj_s" -> "s",
    "operators.decode_mb_s.xz" -> "MB/s", "operators.decode_mb_s.flac" -> "MB/s",
    "operators.decode_mb_s.bzip2" -> "MB/s", "operators.decode_mb_s.lz4" -> "MB/s",
    "operators.self_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s", "streaming.state_rows" -> "count",
    "op.self_s" -> "s", "trace.pass_s" -> "s", "trace.overhead_ratio" -> "ratio")
}
