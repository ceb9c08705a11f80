package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for catalog queries to files — the
  * plan-evidence artifact of optimization rounds (plans/rNN/<q>_before.txt
  * / _after.txt). Not part of the engine surface.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query>[,<query>…]
  *   e.g. runMain graft.tools.PlanDump plans/r17 before x37_pretrain_build,x68_char_bpe
  *
  * Environment: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS —
  * same session shape as Bench so the dumped plans are the benched plans.
  * Queries whose construction stages side tables (graph EdgeStage, IVF
  * layouts) run those stages as part of building the frame; the dumped
  * plan is the FINAL returned frame's, which is what the query times. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
        s"(${plan.count(_ == '\n')} lines)")
      graft.stage.Stage.release(spark)
    }
    spark.stop()
  }
}
