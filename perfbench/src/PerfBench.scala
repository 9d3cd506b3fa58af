package graft.perfbench

import graft.{Bench, Graft}
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** One timed operation. `run` returns the answer the caller receives,
  * reduced to a digest; it is correct when it equals `reference`, which
  * set-up computes independently of the timed loop.
  */
final class Op(val name: String, val run: () => String) {
  var reference: Option[String] = None
  /** Oracle SQL compared through DuckDB in set-up (declared queries). */
  var oracle: Option[String] = None
  /** Digest of the answer in the first set-up pass. */
  var firstDigest: Option[String] = None
  /** Rows and schema of the latest answer of a declared query. */
  var lastRows: (Array[Row], org.apache.spark.sql.types.StructType) = null
}

/** What a workload hands the loop: its op mix, what the engine keeps on
  * disk after a pass (`storedBytes`) and notes for the output.
  */
final class Workload(val ops: IndexedSeq[Op], val storedBytes: () => Long,
    val notes: Seq[String])

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, setupStartMs: Long, size: String,
    corruptReference: Boolean, traceOut: String)

final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  /** inputs.json: what the generator wrote (rows, bytes, per-table rows,
    * reference answers computed from the raw values). The generator runs
    * while the session starts; it writes this file last.
    */
  lazy val inputs: com.fasterxml.jackson.databind.JsonNode = {
    val f = new java.io.File(s"${args.work}/inputs.json")
    while (!f.exists()) Thread.sleep(20)
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
  }

  def say(s: String): Unit = println(s"[perfbench] $s")
  /** Seconds since set-up began (input generation included). */
  def sinceSetup: Double = (System.currentTimeMillis() - args.setupStartMs) / 1e3
  def phase(name: String): Unit = say(f"set-up: $name at $sinceSetup%.2f s")
}

/** The repository benchmark: one JVM, one client thread, a closed loop of
  * operations round-robin over a fixed mix. See perfbench/README.md.
  */
object PerfBench {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("setup-start-ms").toLong,
      kv("size"), kv.get("corrupt-reference").contains("1"), kv("trace-out"))
    System.setProperty("graft.sf.name", new java.io.File(a.data).getName)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Graft.session(s"local[$nproc]")
    val ctx = new Ctx(spark, a, new Tracer)
    val code =
      try { run(ctx, nproc); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private final case class OpResult(name: String, latency: Double, ok: Boolean,
      error: Option[String], counters: Counters)
  private final case class PassResult(wall: Double, ops: Seq[OpResult],
      externalCores: Double, steal: Double, codegen: Long, jitS: Double, gcS: Double,
      traced: Boolean) {
    /** Another tenant took CPU during the pass: other processes on this
      * machine used more than a core, or the hypervisor stole over 5%. */
    def contaminated: Boolean = externalCores > 1.0 || steal > 0.05
  }

  private def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  private def procStatus(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble)
      .getOrElse(-1.0)
    finally src.close()
  }

  /** The aggregate cpu line of /proc/stat: user nice system idle iowait
    * irq softirq steal ... (jiffies). */
  private def cpuTimes(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  /** Share of CPU time stolen by the hypervisor between two readings. */
  private def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val d = a.indices.take(8).map(i => b(i) - a(i))
    if (d.size == 8 && d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it:
    * (percentile, value, samples above).
    */
  def tail(xs: scala.collection.Seq[Double]): (Int, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    (99 to 1 by -1).iterator.map { p =>
      val rank = math.ceil(p / 100.0 * n).toInt.max(1)
      (p, s(rank - 1), n - rank)
    }.find(_._3 >= 10).getOrElse((50, median(s), n / 2))
  }

  private def runPass(ctx: Ctx, w: Workload, obs: Option[Observer],
      opBase: Int, keepFirst: Boolean): PassResult = {
    val tracer = ctx.tracer
    tracer.enabled = obs.isDefined
    obs.foreach(_.attach())
    val s0 = Bench.LoadProbe.snapshot()
    val cpu0 = cpuTimes()
    val cg0 = codegenCount()
    val jit0 = jitSeconds()
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val results = w.ops.zipWithIndex.map { case (op, i) =>
      val o0 = System.nanoTime()
      var answer: Option[String] = None
      var error: Option[String] = None
      try answer = Some(tracer.opSpan(opBase + i, op.name)(op.run()))
      catch { case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val lat = (System.nanoTime() - o0) / 1e9
      val c = obs.map(_.take()).getOrElse(new Counters)
      tracer.addJobs(opBase + i, c.jobIntervals.toSeq)
      if (keepFirst) op.firstDigest = answer
      val ok = answer.isDefined && answer == op.reference
      if (!ok && !keepFirst && error.isEmpty)
        ctx.say(s"wrong answer: ${op.name}")
      error.foreach(e => ctx.say(s"op failed: ${op.name}: ${e.take(300)}"))
      OpResult(op.name, lat, ok, error, c)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val ext = Bench.LoadProbe.externalCores(s0, Bench.LoadProbe.snapshot(), wall)
    obs.foreach(_.detach())
    tracer.enabled = false
    PassResult(wall, results, ext, stealShare(cpu0, cpuTimes()), codegenCount() - cg0,
      jitSeconds() - jit0, gcSeconds() - gc0, obs.isDefined)
  }

  private def fmt(x: Double): String = f"$x%.4f"

  def run(ctx: Ctx, nproc: Int): Unit = {
    val a = ctx.args
    val spark = ctx.spark
    ctx.phase("session started")
    val inputRows = ctx.inputs.get("rows").asLong
    val inputBytes = ctx.inputs.get("bytes").asLong
    val storedBase = ctx.inputs.get("stored_base_bytes").asLong
    ctx.phase("inputs generated")
    val w = Workloads.build(ctx)
    ctx.phase("inputs staged, references computed")
    ctx.say(s"workload ${a.workload} seed ${a.seed} size ${a.size} cores $nproc " +
      s"input_rows $inputRows input_bytes $inputBytes ops/pass ${w.ops.size}: " +
      w.ops.map(_.name).mkString(", "))
    w.notes.foreach(ctx.say)

    // -- set-up: first pass gives the answers the references are checked on
    var opCount = 0
    def pass(obs: Option[Observer], keepFirst: Boolean = false): PassResult = {
      val p = runPass(ctx, w, obs, opCount, keepFirst)
      opCount += w.ops.size
      p
    }
    val firstPass = pass(None, keepFirst = true)
    ctx.phase("first pass done")
    References.establish(ctx, w)
    ctx.phase("oracle compared")
    if (a.corruptReference) {
      // Self-test hook: a reference that no answer can match must show up
      // as failed operations and a non-zero error rate.
      w.ops.head.reference = Some("corrupted-reference")
      ctx.say(s"reference of ${w.ops.head.name} corrupted on purpose")
    }
    val unverified = w.ops.filter(_.reference.isEmpty).map(_.name)
    if (unverified.nonEmpty) ctx.say(s"no verified reference: ${unverified.mkString(", ")}")
    def passLine(tag: String, p: PassResult): Unit =
      ctx.say(s"$tag pass ${fmt(p.wall)} s  spark.codegen_compiles ${p.codegen}  " +
        s"jvm.jit_s ${fmt(p.jitS)}  jvm.gc_s ${fmt(p.gcS)}  external_cores ${fmt(p.externalCores)}  " +
        s"steal ${fmt(p.steal)}${if (p.contaminated) "  CONTAMINATED" else ""}")
    passLine("warm 1", firstPass)

    // Warm up until two consecutive passes agree within a tenth, with a
    // floor of three passes and a cap that keeps set-up bounded.
    val warm = ArrayBuffer(firstPass.wall)
    val minWarm = 3
    val maxWarm = if (a.size == "tiny") 3 else 4
    def steady: Boolean = warm.size >= minWarm && {
      val Seq(x, y) = warm.takeRight(2).toSeq
      math.abs(x - y) / math.min(x, y) < 0.10
    }
    while (!steady && warm.size < maxWarm) {
      val p = pass(None)
      warm += p.wall
      passLine(s"warm ${warm.size}", p)
    }
    ctx.say(s"warm-up ${if (steady) "steady" else "NOT steady"} after ${warm.size} passes")
    val setupS = ctx.sinceSetup

    // -- measurement: whole passes until the time is up (traced and
    // untraced passes alternate in a traced run)
    val obs = new Observer(spark)
    val measured = ArrayBuffer[PassResult]()
    val m0 = System.nanoTime()
    val steal0 = cpuTimes()
    // at least 21 ops for a tail percentile, and three passes so that the
    // median pass outvotes one slowed by another tenant
    val minOps = 21
    val minPasses = 3
    def elapsed = (System.nanoTime() - m0) / 1e9
    def untracedOps = measured.filterNot(_.traced).map(_.ops.size).sum
    // traced runs need two traced passes and an untraced one for the
    // overhead ratio
    def more: Boolean =
      if (a.trace) measured.count(_.traced) < 2 || measured.count(!_.traced) < 1
      else untracedOps < minOps || measured.size < minPasses
    while (elapsed < a.seconds || more) {
      val traced = a.trace && measured.size % 2 == 1
      val p = pass(if (traced) Some(obs) else None)
      measured += p
      passLine(if (traced) "traced" else "timed", p)
    }
    val peakRss = procStatus("VmHWM") / 1024.0
    val steal = stealShare(steal0, cpuTimes())
    val untraced = measured.filterNot(_.traced)
    val opsAll = untraced.flatMap(_.ops)
    val lat = opsAll.map(_.latency)
    val failed = opsAll.count(!_.ok)
    val (tp, tv, tn) = tail(lat)
    val passS = median(untraced.map(_.wall))
    val stored = w.storedBytes()
    val contaminated = measured.count(_.contaminated)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", passS, "s"),
      ("op_p50_s", median(lat), "s"),
      ("op_tail_s", tv, "s"),
      ("peak_rss_mb", peakRss, "MB"),
      ("bytes_stored_per_user_byte", stored.toDouble / math.max(1L, storedBase), "ratio"))
    ctx.say(s"measured ${untraced.size} passes, ${opsAll.size} ops in ${fmt(elapsed)} s; " +
      s"op_tail_s is p$tp with $tn samples beyond it of ${lat.size}")
    ctx.say(s"error_rate ${fmt(failed.toDouble / math.max(1, opsAll.size))} ratio " +
      s"($failed of ${opsAll.size} ops failed or wrong)")
    e2e.foreach { case (n, v, u) => ctx.say(s"$n ${fmt(v)} $u") }
    // The median of a mix of unlike ops sits between two of them and jumps
    // when they trade places, so it is printed but not gated.
    val gated = e2e.filterNot(_._1 == "op_p50_s")
    ctx.say(s"bytes_stored_per_user_byte = $stored stored / $storedBase user bytes")
    w.ops.foreach { op =>
      val l = opsAll.filter(_.name == op.name).map(_.latency)
      ctx.say(s"op ${op.name}: median ${fmt(median(l))} s over ${l.size}")
    }
    // environment covariates, stamped rather than used to drop passes
    val load1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    ctx.say(s"env cores $nproc load1 ${fmt(load1)} steal_share ${fmt(steal)} " +
      s"contaminated_passes $contaminated of ${measured.size} " +
      s"reread_mb_s ${fmt(Bench.EnvProbe.rereadMbps(a.data))} " +
      s"membw_gb_s ${fmt(Bench.EnvProbe.membwGbps())}")

    ctx.phase("probes done")
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) gated
      else Layers.perLayer(ctx, w, measured.filter(_.traced).map(p => Layers.TracedPass(
        p.wall, p.ops.map(o => (o.name, o.counters)), p.codegen, p.jitS, p.gcS)).toSeq, passS)
    if (a.trace) {
      metrics.foreach { case (n, v, u) => ctx.say(s"$n ${fmt(v)} $u") }
      val out = new java.io.File(a.traceOut)
      out.getParentFile.mkdirs()
      val names = (0 until opCount).map(i => w.ops(i % w.ops.size).name)
      java.nio.file.Files.writeString(out.toPath, ctx.tracer.toJson(names))
      ctx.say(s"spans written to ${a.traceOut} (${ctx.tracer.spans.size} spans)")
    }
    val allVerified = w.ops.forall(_.reference.isDefined)
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    val attempted = opsAll.size
    println(s"""{"correct": ${failed == 0 && allVerified}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$json}}""")
  }
}
