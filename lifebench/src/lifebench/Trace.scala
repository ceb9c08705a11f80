package lifebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** One Spark job as the benchmark's listener saw it. Times are epoch ms
  * from the listener events; sizes are bytes summed over the job's
  * completed stages. */
final case class JobRec(id: Int, start: Long, end: Long, callSite: String,
                        layer: String, stages: Int, tasks: Int, tasksFailed: Int,
                        taskRunMs: Long, taskGcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long, input: Long, output: Long,
                        jsonScan: Boolean, aggMs: Long)

/** A span at a layer boundary: `parent` is the id of the span that caused
  * it (-1 for a root); spans of one benchmark run share `runId`. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)

/** Half-open [start, end) intervals merged into a disjoint union, so
  * overlapping jobs are counted once (pairwise start − previous end
  * would go negative, or be clamped, when jobs overlap). */
object Intervals {
  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  def length(iv: Seq[(Long, Long)]): Long = union(iv).map { case (s, e) => e - s }.sum

  /** Part of [s, e) covered by `iv`. */
  def covered(s: Long, e: Long, iv: Seq[(Long, Long)]): Long =
    length(iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
}

/** The benchmark-owned listener: records every job with its call site
  * (e.g. `foreachPartition at DocumentSink.scala:30`) and the layer that
  * call site belongs to, plus per-stage task metrics. The layer is the
  * `graft.<layer>` package of the first program frame in the job's long
  * call site (`spark` when no program frame is on the stack, `bench` for
  * the benchmark's own actions). */
final class JobListener extends SparkListener {
  private case class Open(start: Long, site: String, layer: String,
                          stages: Set[Int])
  private case class StageAcc(var tasks: Int = 0, var failed: Int = 0,
                              var runMs: Long = 0, var gcMs: Long = 0,
                              var shW: Long = 0, var shR: Long = 0,
                              var spill: Long = 0, var in: Long = 0,
                              var out: Long = 0, var json: Boolean = false,
                              var aggMs: Long = 0)
  private val open = mutable.Map.empty[Int, Open]
  private val stageAcc = mutable.Map.empty[Int, StageAcc]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  // SQL execution id -> (short, long) call site of the action that
  // started it; nested executions resolve to their root's
  private val sqlSites = mutable.Map.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      sqlSites(x.executionId) = x.rootExecutionId.flatMap(sqlSites.get)
        .getOrElse((x.description, x.details))
    }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    // jobs of a SQL action often run on AQE threads, whose own call site
    // is a thread-pool frame: take the action's. Other jobs: their stages
    // carry the call site (name = short form, details = long form).
    val stage = js.stageInfos.sortBy(_.stageId).lastOption
    val (short, long) = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSites.get(id.toLong))
      .getOrElse((stage.map(_.name).getOrElse("?"), stage.map(_.details).getOrElse("")))
    open(js.jobId) = Open(js.time, short, JobListener.layerOf(long), js.stageIds.toSet)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate(te.stageId, StageAcc())
    a.tasks += 1
    if (te.reason != org.apache.spark.Success) a.failed += 1
    Option(te.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.shR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.in += m.inputMetrics.bytesRead
      a.out += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val info = sc.stageInfo
    val a = stageAcc.getOrElseUpdate(info.stageId, StageAcc())
    a.json = info.rddInfos.exists(_.scope.exists(_.name.toLowerCase.contains("json")))
    // a stage that reads no input files is post-scan work (aggregation,
    // pivot, sort) — its wall time is attributed to the operators
    val wall = for (s <- info.submissionTime; e <- info.completionTime) yield e - s
    if (a.in == 0L) a.aggMs = wall.getOrElse(0L)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    open.remove(je.jobId).foreach { o =>
      val accs = o.stages.toSeq.flatMap(stageAcc.remove)
      done += JobRec(je.jobId, o.start, je.time, o.site, o.layer, accs.size,
        accs.map(_.tasks).sum, accs.map(_.failed).sum, accs.map(_.runMs).sum,
        accs.map(_.gcMs).sum, accs.map(_.shW).sum, accs.map(_.shR).sum,
        accs.map(_.spill).sum, accs.map(_.in).sum, accs.map(_.out).sum,
        accs.exists(a => a.json && a.in > 0), accs.map(_.aggMs).sum)
    }
  }

  /** Jobs finished since the last call (listener bus drained first). */
  def take(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.LifebenchBridge.drainListenerBus(sc)
    synchronized { val r = done.toList; done.clear(); r }
  }
}

object JobListener {
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(.*""".r

  def layerOf(longCallSite: String): String = {
    val classes = longCallSite.split("\n").toSeq.collect { case Frame(c) => c }
    classes.collectFirst {
      case c if c.startsWith("graft.") =>
        val rest = c.stripPrefix("graft.")
        if (rest.contains('.')) rest.takeWhile(_ != '.') else "graft"
      case c if c.startsWith("lifebench.") => "bench"
    }.getOrElse("spark")
  }
}

/** In-memory span recorder plus the job listener, for one traced run. */
final class Tracer(val runId: String) {
  val listener = new JobListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[(Int, JobRec)] // (parent span, job)
  private var stack = List.empty[Int]

  def now: Long = System.currentTimeMillis()

  /** Time `body` as a span named `name`, child of the innermost open
    * span; jobs that finish inside it become its children. */
  def span[T](sc: SparkContext, name: String)(body: => T): (T, Span, Seq[JobRec]) = {
    listener.take(sc) // jobs of an enclosing span stay with it
    val id = spans.size
    spans += Span(id, name, 0, 0, stack.headOption.getOrElse(-1))
    val start = now
    stack = id :: stack
    val r = try body finally stack = stack.tail
    val end = now
    val js = listener.take(sc)
    spans(id) = spans(id).copy(start = start, end = end)
    js.foreach(j => jobs += ((id, j)))
    (r, spans(id), js)
  }

  /** Spans, their jobs as child spans, and each layer's self time: the
    * part of its spans not covered by their children. */
  def toJson(extra: Seq[(String, String)]): String = {
    val jobSpans = jobs.zipWithIndex.map { case ((parent, j), i) =>
      Span(spans.size + i, s"job.${j.layer}:${j.callSite}", j.start, j.end, parent)
    }
    val all = spans.toSeq ++ jobSpans
    val children = all.groupBy(_.parent)
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val layer = if (s.name.startsWith("job.")) s.name.drop(4).takeWhile(_ != ':')
        else s.name.takeWhile(_ != '.')
      self(layer) += (s.end - s.start) - Intervals.covered(s.start, s.end, kids)
    }
    val spanJson = all.map { s =>
      s"""{"name":${Json.str(s.name)},"start":${s.start},"end":${s.end},""" +
        s""""parent":${s.parent},"run_id":${Json.str(runId)},"id":${s.id}}"""
    }.mkString("[\n", ",\n", "\n]")
    val selfJson = self.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${v / 1000.0}" }.mkString("{", ",", "}")
    (Seq("run_id" -> Json.str(runId), "layer_self_s" -> selfJson, "spans" -> spanJson) ++ extra)
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{\n", ",\n", "\n}\n")
  }
}

/** Per-iteration aggregates of the listener's job records. */
object SparkMetrics {
  private val MB = 1024.0 * 1024.0

  def of(jobs: Seq[JobRec], windowStart: Long, windowEnd: Long): Seq[(String, Double)] = {
    val busy = Intervals.length(jobs.map(j => (math.max(j.start, windowStart),
      math.min(j.end, windowEnd))))
    Seq(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.tasks_failed" -> jobs.map(_.tasksFailed).sum.toDouble,
      "spark.job_busy_s" -> busy / 1000.0,
      "spark.driver_gap_s" -> ((windowEnd - windowStart) - busy) / 1000.0,
      "spark.task_run_s" -> jobs.map(_.taskRunMs).sum / 1000.0,
      "spark.task_gc_s" -> jobs.map(_.taskGcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / MB,
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / MB,
      "spark.spill_mb" -> jobs.map(_.spill).sum / MB,
      "spark.input_mb" -> jobs.map(_.input).sum / MB,
      "spark.output_mb" -> jobs.map(_.output).sum / MB)
  }
}

/** Minimal JSON writing for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(kv: Seq[(String, Double)]): String = obj(kv.map { case (k, v) => k -> num(v) })
}
