package lifebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's JVM side. Builds the session, runs one workload's
  * iterations and writes the raw measurements as JSON; `lifebench/run.py`
  * generates the inputs, checks the observations and prints the metrics.
  *
  *   Main <workload> <inDir> <workDir> <warm> <trace 0|1> <resultJson>
  *
  * `warm` is the number of warm iterations after the cold one; a traced
  * run makes that many untraced and as many traced ones.
  */
object Main {
  def ioWriteBytes(): Long = procField("/proc/self/io", "write_bytes:")
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0

  private def procField(file: String, key: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().collectFirst {
      case l if l.startsWith(key) => l.stripPrefix(key).trim.split("\\s+")(0).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** A session shaped like the reference's CronJob on this box: one
    * process, at most one task thread per core. Scratch space stays
    * under `work`. */
  def session(work: Path): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors()).toString
    val s = SparkSession.builder().master(s"local[$cpus]").appName("lifebench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Seconds from JVM start until the session is ready. */
  def setupSeconds(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  final case class Iter(phase: String, wall: Double, cpu: Double, outBytes: Long,
                        obs: Seq[(String, Double)], error: String,
                        traced: Seq[(String, Double)])

  def iterJson(it: Iter): String =
    Json.obj(Seq("phase" -> Json.str(it.phase), "wall_s" -> Json.num(it.wall),
      "cpu_s" -> Json.num(it.cpu), "out_bytes" -> it.outBytes.toString,
      "obs" -> Json.nums(it.obs),
      "error" -> (if (it.error == null) "null" else Json.str(it.error)),
      "traced" -> Json.nums(it.traced)))

  def checksJson(cs: Seq[Check]): String = cs.map(c => Json.obj(Seq(
    "name" -> Json.str(c.name), "passed" -> c.passed.toString,
    "known" -> c.known.toString, "detail" -> Json.str(c.detail)))).mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val Array(name, inArg, workArg, warmArg, traceArg, resultArg) = args
    val in = Paths.get(inArg).toAbsolutePath
    val work = Paths.get(workArg).toAbsolutePath
    val spark = session(work)
    val setup = setupSeconds()
    val trace = traceArg == "1"
    val w = Workloads(name, spark, in, work)
    val runId = s"$name-${ProcessHandle.current().pid()}-${System.currentTimeMillis()}"
    val tracer = new Tracer(runId)
    val iters = mutable.ArrayBuffer.empty[Iter]

    /** One iteration of `wl`: timed from its inputs to every output
      * written, then its outputs read back untimed and deleted. With
      * `first`, also the workload's once-only counts and checks. */
    def runOne(wl: Workload, phase: String, i: Int, withTrace: Boolean,
               first: Boolean): (Iter, Seq[(String, Double)], Seq[Check]) = {
      val out = work.resolve(s"out-$i")
      Files2.deleteTree(out)
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      var jobs: Seq[JobRec] = Nil
      val error = try {
        if (withTrace) jobs = tracer.span(spark.sparkContext, s"driver.iteration-$i")(
          wl.iterate(out))._3
        else wl.iterate(out)
        null
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(600) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNanos() - c0) / 1e9
      val traced =
        if (!withTrace) Nil
        else SparkMetrics.of(jobs, w0, w0 + (wall * 1000).toLong) ++ wl.traced(jobs)
      var obs: Seq[(String, Double)] = Nil
      var once: (Seq[(String, Double)], Seq[Check]) = (Nil, Nil)
      var err = error
      if (err == null) try {
        obs = wl.observe(out)
        if (first) once = wl.once(out)
      } catch { case e: Throwable => err = s"check: ${e.getClass.getName}: ${e.getMessage}".take(600) }
      val bytes = if (err == null) Files2.bytes(out) else 0L
      Files2.deleteTree(out)
      (Iter(phase, wall, cpu, bytes, obs, err, traced), once._1, once._2)
    }

    val (cold, onceObs, checks) = runOne(w, "cold", 0, withTrace = false, first = true)
    iters += cold
    // A traced run alternates untraced and traced warm iterations
    // (listener attached only for the traced ones): the ratio of their
    // medians is the tracing overhead.
    for (n <- 0 until warmArg.toInt * (if (trace) 2 else 1)) {
      val traced = trace && n % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(tracer.listener)
      iters += runOne(w, if (traced) "traced" else "warm", iters.size, traced, first = false)._1
      if (traced) spark.sparkContext.removeSparkListener(tracer.listener)
    }
    var probes: Seq[(String, Double)] = Nil
    var hosted = "null"
    var hostedChecks: Seq[Check] = Nil
    if (trace) {
      spark.sparkContext.addSparkListener(tracer.listener)
      probes = Workloads.inputSize(in) ++ w.probes(tracer)
      // HealIngest is no workload of its own (see DESIGN.md); one traced
      // iteration of it, checked like a workload's, and its own layers'
      // probes ride along in the bdc_ingest traced run
      if (name == "bdc_ingest") {
        val heal = new Heal(spark, in.resolve(Workloads.HostedHeal), work)
        val (it, ho, hc) = runOne(heal, "hosted", iters.size, withTrace = true, first = true)
        probes ++= it.traced.filter(_._1 == "sources.mds_scans") ++ heal.probes(tracer)
        hosted = Json.obj(Seq("workload" -> Json.str("heal_ingest"),
          "iteration" -> iterJson(it), "once" -> Json.nums(ho), "checks" -> checksJson(hc)))
        hostedChecks = hc
      }
      spark.sparkContext.removeSparkListener(tracer.listener)
    }
    val rss = peakRssMb()
    spark.stop()

    val result = Seq("setup_s" -> Json.num(setup), "peak_rss_mb" -> Json.num(rss),
      "iterations" -> iters.map(iterJson).mkString("[\n", ",\n", "\n]"),
      "once" -> Json.nums(onceObs), "checks" -> checksJson(checks), "probes" -> Json.nums(probes),
      "hosted" -> hosted)
    Files.writeString(Paths.get(resultArg), Json.obj(result))
    if (trace)
      Files.writeString(work.resolve("spans.json"),
        tracer.toJson(Seq("workload" -> Json.str(name), "checks" -> checksJson(checks ++ hostedChecks))))
  }
}
