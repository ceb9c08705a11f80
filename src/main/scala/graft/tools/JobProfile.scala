package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Run one catalog query and print every Spark job's wall time + first
  * line of its call site — the decomposition a bench seconds number
  * hides (which stage writes / censuses / rounds dominate). Diagnostic
  * only; not part of the engine surface.
  *
  * Usage: runMain graft.tools.JobProfile <query> [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (Bench session shape). */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val starts = TrieMap.empty[Int, (Long, String)]
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .map(_.getProperty("callSite.short", "?")).getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, site) =>
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, site))
        }
    })
    // job START times too, so DRIVER-SIDE GAPS (listing, commit renames,
    // planning — time when no job runs) are visible per job boundary:
    // gap(i) = start(i) − end(i−1). total − job-sum ≈ Σ gaps.
    val startNs = TrieMap.empty[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        startNs.put(js.jobId, System.nanoTime())
    })
    (1 to reps).foreach { rep =>
      rows.clear(); startNs.clear()
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener drain
      import scala.jdk.CollectionConverters._
      val js = rows.asScala.toSeq.sortBy(_._1)
      println(f"== rep $rep: $name rows=$n total=$dt%.2f s, ${js.size} jobs, " +
        f"job-sum=${js.map(_._2).sum}%.2f s")
      var prevEnd = t0
      js.foreach { case (id, sec, site) =>
        val st = startNs.getOrElse(id, prevEnd)
        val gap = math.max(0.0, (st - prevEnd) / 1e9)
        prevEnd = math.max(prevEnd, st + (sec * 1e9).toLong)
        val gapStr = if (gap >= 0.05) f"  gap=$gap%5.2f s" else ""
        println(f"  job $id%3d  $sec%6.2f s$gapStr  $site")
      }
      graft.stage.Stage.release(spark)
      System.gc()
    }
    spark.stop()
  }
}
