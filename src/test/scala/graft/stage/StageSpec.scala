package graft.stage

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.ext.{Curation, Dedup, Learn, Sketch, TextStats, Unigram}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StageSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "en", "web", "the quick brown fox jumps over the lazy dog", 300L),
    (2L, "en", "book", "the quick brown fox naps", 120L),
    (3L, "de", "web", "der schnelle braune fuchs", 600L),
    (4L, "de", "news", "der fuchs schlaeft", 40L),
    (5L, "en", "web", "a lazy dog sleeps all day long", 290L))
    .toDF("doc_id", "lang", "source", "text", "n_chars")

  private def values = Seq("a", "b", "a", "c", "a", "d").toDF("v")

  private def tokenCounts = docs
    .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
    .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))

  /** Spark jobs started while `body` runs, counted by a listener. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.SpecBus.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get()
  }

  test("every staging entry point registers one dir; one drain deletes them all") {
    val sig = Dedup.minhashSignature(docs, "text", 8)
    val before = Stage.registered
    Sketch.cmsSketchStaged(values, "v", 64, 2)
    Sketch.hllRegistersStaged(values.withColumn("g", lit("k")), Seq("g"), "v", 4)
    TextStats.tokenCountsStaged(tokenCounts)
    Stage.tempDir("graft_layout_")
    Dedup.lshCandidateStarPairsStaged(sig, "doc_id", 8, 2)
    val added = Stage.registered -- before
    assert(added.size == 5, s"expected five new stage dirs, got $added")
    assert(added.forall(d => Files.isDirectory(Paths.get(d))), added.toString)
    Stage.drain()
    assert(Stage.registered.isEmpty)
    val left = added.filter(d => Files.exists(Paths.get(d)))
    assert(left.isEmpty, s"drain left stage dirs on disk: $left")
  }

  test("a staged sketch or token-count table reads back in one job (no schema inference)") {
    // without AQE a write runs as ONE job whatever its shuffles, so any
    // second job would be the read-back's footer inference
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sketch = jobsDuring(Sketch.cmsSketchStaged(values, "v", 64, 2))
      assert(sketch == 1, s"sketch stage + read-back ran $sketch jobs")
      val counts = jobsDuring(TextStats.tokenCountsStaged(tokenCounts))
      assert(counts == 1, s"token-count stage + read-back ran $counts jobs")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("known-schema read-back equals the inferred schema of every staged frame") {
    val lab = docs.select(col("doc_id"), col("lang"), col("source"),
      when(size(split(col("text"), " ")) >= 5, "long").otherwise("short").as("ra"),
      when(col("n_chars") >= 256, "long").otherwise("short").as("rb"))
    val cells = docs.select(col("doc_id"), col("lang"), col("source"),
      expr("n_chars div 256").as("len_bucket"),
      expr("n_chars div 64").as("xb"),
      size(split(col("text"), " ")).cast("long").as("sv"))
    val frames: Seq[(String, DataFrame)] = Seq(
      "cms sketch" -> Sketch.cmsSketch(values, "v", 64, 2),
      "hll registers" -> Sketch.hllRegisters(
        values.withColumn("g", lit("k")), Seq("g"), "v", 4),
      "kmv state" -> Sketch.kmvState(values, "v", 4),
      "qs state" -> Sketch.qsState(docs, Seq("lang"), "doc_id", "n_chars", 4),
      "token counts" -> tokenCounts,
      "minhash signature" -> Dedup.minhashSignature(docs, "text", 8),
      "unigram words" -> Unigram.wordCounts(docs, "text", 16),
      "fleiss cells" -> Learn.fleissCells(lab, Seq("lang"), Seq("ra", "rb")),
      "qi group counts" -> Curation.qiGroupCounts(
        cells, Seq("lang"), Seq("source", "len_bucket")),
      "l-diversity cells" -> Curation.lDiversityCells(
        cells, Seq("lang"), Seq("source", "len_bucket"), "sv"),
      "t-closeness cells" -> Curation.tClosenessCells(
        cells, Seq("lang"), Seq("source", "len_bucket"), "sv"),
      "chi-square cells" -> Learn.chiSquareCells(lab, Seq("lang"), "source", "ra"),
      "confusion cells" -> Learn.confusionCells(lab, Seq("lang"), "ra", "rb"),
      "kendall cells" -> Learn.kendallCells(cells, Seq("lang"), "xb", "sv"))
    frames.foreach { case (name, df) =>
      val before = Stage.registered
      val back = Stage.writeAndRead(df)
      val dir = (Stage.registered -- before).head
      assert(back.schema == spark.read.parquet(dir).schema, name)
      assert(back.collect().toSet == df.collect().toSet, name)
    }
  }

  test("owned tables carry this JVM's pid; the sweep reclaims dead owners' tables only") {
    val wh = Stage.warehouseDir(spark)
    val pid = ProcessHandle.current().pid()
    val mine = Stage.ownedTable(spark)
    assert(mine.startsWith(s"graft_pr_edges_${pid}_"), mine)
    val exited = new ProcessBuilder("true").start()
    exited.waitFor()
    val dead = s"graft_pr_edges_${exited.pid()}_0badf00d_1"
    val live = s"graft_pr_edges_${pid}_0badf00d_2"
    val legacy = "graft_pr_edges_7" // counter-only: ownership unprovable
    val all = Seq(dead, live, legacy, mine)
    all.foreach(n => Files.createDirectories(new java.io.File(wh, n).toPath.resolve("x")))
    try {
      Stage.sweepDeadOwners(spark)
      assert(!new java.io.File(wh, dead).exists(), s"$dead survived the sweep")
      Seq(live, legacy, mine).foreach(n =>
        assert(new java.io.File(wh, n).exists(), s"$n was swept"))
    } finally all.foreach(n => Stage.delete(new java.io.File(wh, n).toPath))
  }
}
