package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: a workload, a seed, a measuring time and whether the
  * run is traced. Prints info lines and, last, one line starting with
  * `PERFBENCH_RESULT ` holding the result as JSON (perfbench/run.py turns it
  * into the benchmark's output).
  *
  * The loop is closed with one client and no think time: the next request
  * is issued only after the previous one returned.
  */
object Main {
  /** Repetitions of the corpus generation per run; setup_s takes their
    * median.
    */
  val GenerateReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cpus = opts("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    try run(spark, workload, seed, seconds, traced, work, cpus, sessionS)
    finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      traced: Boolean, work: String, cpus: Int, sessionS: Double): Unit = {
    val tracer = Tracer(spark, traced)
    val dir = s"$work/$name-$seed"
    Files.wipe(dir)
    val wl = Workload(name, Ctx(spark, tracer, seed, dir, cpus))

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val generateS = (1 to GenerateReps).map(_ => timed(wl.generate()))
    val prepareS = timed(wl.prepare())
    val warmupSamplesS = (1 to wl.warmupRequests).map(_ => timed(wl.request()))
    val warmupS = warmupSamplesS.sum
    // set-up as a user pays it in a new JVM: session start, corpus
    // generation (median of its repetitions), set-up builds and warm-up
    val setupS = sessionS + Layers.median(generateS) + prepareS + warmupS
    // a problem found while setting up or warming up fails the run
    val setupProblems = wl.problems.toList
    tracer.clear()
    wl.callMs.clear()
    wl.problems.clear()

    var attempted = 0
    var failed = 0
    if (setupProblems.nonEmpty) { attempted += 1; failed += 1; wl.problems ++= setupProblems }
    val latMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // the JVM's CPU time per loop request (all threads), beside its latency:
    // it tells a slower program from a busier host
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loopStart = System.nanoTime()
    while (System.nanoTime() - loopStart < seconds * 1e9) {
      wl.requestNs = 0L
      val cpu0 = os.getProcessCpuTime
      val before = wl.problems.size
      val ok =
        try { tracer.request(s"request.$name")(wl.request()); wl.problems.size == before }
        catch { case NonFatal(e) =>
          wl.problems += s"request $attempted threw ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
          false
        }
      attempted += 1
      cpuS += (os.getProcessCpuTime - cpu0) / 1e9
      if (ok) latMs += wl.requestNs / 1e6 else failed += 1
    }
    val loopNs = System.nanoTime() - loopStart
    val endStart = System.nanoTime()

    val spaceAmp = Files.bytes(wl.indexRoot).toDouble / wl.indexedBytes()
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val endS = (System.nanoTime() - endStart) / 1e9

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("request_p50_ms", Layers.median(latMs.toSeq), "ms"),
      ("space_amp", spaceAmp, "ratio"))
    val perLayer =
      if (!traced) Nil
      else {
        tracer.write(new File(s"$work/$name-$seed.spans.jsonl"))
        val m = Layers.compute(tracer, loopNs, cachedMb)
        Layers.Catalogue.map { case (n, u) => (n, m(n), u) }
      }

    // the parts of setup_s, every request sample, each call's median, the
    // tail and the error rate, for the record
    def line(k: String, v: String): Unit = println(s"info $k $v")
    line("session_start_s", f"$sessionS%.3f")
    line("generate_samples_s", generateS.map(s => f"$s%.3f").mkString(","))
    line("prepare_s", f"$prepareS%.3f")
    line("warmup_samples_s", warmupSamplesS.map(s => f"$s%.3f").mkString(","))
    line("loop_s", f"${loopNs / 1e9}%.3f")
    line("teardown_s", f"$endS%.3f")
    line("request_samples_ms", latMs.map(v => f"$v%.1f").mkString(","))
    line("request_cpu_s", cpuS.map(v => f"$v%.2f").mkString(","))
    wl.callMs.foreach { case (span, xs) =>
      line(s"$span.p50_ms", f"${Layers.median(xs.toSeq)}%.2f (n=${xs.size})")
    }
    tail(latMs.toSeq).foreach { case (pct, v) =>
      line("request_tail_ms", f"$v%.2f (p$pct%.1f of n=${latMs.size})")
    }
    line("error_rate", s"${if (attempted == 0) 0.0 else failed.toDouble / attempted} " +
      s"(failed=$failed of attempted=$attempted)")
    line("storage.cached_mb_end", f"$cachedMb%.3f")
    wl.problems.take(20).foreach(p => line("problem", p))
    if (traced) {
      val reqs = tracer.spans.filter(_.parent == 0)
      val inCalls = tracer.spans.filter(s => reqs.exists(_.id == s.parent)).map(_.durNs).sum
      line("trace.coverage", f"${reqs.map(_.durNs).sum.toDouble / loopNs}%.4f of the loop's wall time")
      line("trace.calls_share", f"${inCalls.toDouble / math.max(reqs.map(_.durNs).sum, 1L)}%.4f of request time is inside graft calls")
    }

    def obj(ms: Seq[(String, Double, String)]): String =
      ms.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${obj(if (traced) perLayer else e2e)},"e2e":${obj(e2e)}}""")
    Files.wipe(dir)
  }

  /** The highest percentile with at least ten samples beyond it. */
  private def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size <= 10) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((100.0 * (i + 1) / s.size, s(i)))
    }
}
