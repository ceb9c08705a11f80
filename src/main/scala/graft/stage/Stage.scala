package graft.stage

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of staged state: every operator that materializes an
  * intermediate table (signature stages, sketch bases, staged rounds,
  * written layouts, bucketed edge tables) allocates, reads back and
  * releases it here.
  *
  * Two lifetimes:
  *  - temp DIRECTORIES ([[tempDir]], [[write]], [[writeAndRead]]) are
  *    registered and deleted by [[drain]] — the between-query hook long
  *    catalog sessions call — or by one JVM-exit hook. A stage is only
  *    read by the query that created it, so a drain between independent
  *    queries is safe; without it a 281-query session accumulates dozens
  *    of stages (disk + page-cache pressure measured as up-to-17×
  *    bench-tail inflation).
  *  - catalog TABLES ([[ownedTable]]) are caller-owned (drop in a
  *    finally); their names embed the owning pid so a crashed run's
  *    leftovers are reclaimed by the next JVM that stages one. */
object Stage {

  private val dirs = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  // one hook for all registered dirs, installed on first use
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => delete(Paths.get(d)))))

  /** A fresh, unique temp directory registered for deletion by [[drain]]
    * (or at JVM exit): no cross-session overwrite races on a shared
    * path. */
  def tempDir(prefix: String): String = {
    exitHook
    val dir = Files.createTempDirectory(prefix).toString
    dirs.add(dir)
    dir
  }

  /** Directories pending deletion. */
  def registered: Set[String] = {
    import scala.jdk.CollectionConverters._
    dirs.asScala.toSet
  }

  /** Delete every registered directory now and clear the registry. */
  def drain(): Unit = {
    val it = dirs.iterator()
    while (it.hasNext) {
      val d = it.next()
      it.remove()
      delete(Paths.get(d))
    }
  }

  /** Write `df` to a fresh [[tempDir]] as parquet and return the path.
    * The write runs HERE, at call time, not when a frame over the stage
    * is acted on. In production the stage is a durable table the
    * pipeline owns, appended batch by batch — for streaming ingest per
    * batch subdir with overwrite, so a crash-replayed micro-batch cannot
    * double its rows (`Curation.appendCardBatch(…, overwrite = true)`). */
  def write(df: DataFrame): String = {
    val dir = tempDir("graft_stage_")
    df.write.mode("overwrite").parquet(dir)
    dir
  }

  /** [[write]] + read-back with the KNOWN schema: `read.parquet(dir)`
    * would re-infer the schema it just wrote — one footer-read job per
    * stage, dozens per catalog run. The schema is exact by construction,
    * so the read is bit-identical and only the inference job goes.
    * asNullable: parquet round-trips every field as nullable, which is
    * what inference would report. */
  def writeAndRead(df: DataFrame): DataFrame =
    df.sparkSession.read
      .schema(org.apache.spark.sql.graftbridge.Bridge.asNullable(df.schema))
      .parquet(write(df))

  /** Recursively delete `p` if it exists. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** The local directory behind `spark.sql.warehouse.dir` (a `file:` URI
    * or a plain path): where managed tables keep their files. */
  def warehouseDir(spark: SparkSession): java.io.File = {
    val w = spark.conf.get("spark.sql.warehouse.dir")
    if (w.startsWith("file:")) new java.io.File(new java.net.URI(w))
    else new java.io.File(w)
  }

  // Owned tables are named graft_pr_edges_<pid>_<hex>_<n> (the stem
  // predates this module; keeping it lets the sweep reclaim tables that
  // older builds leaked). A per-JVM counter alone is NOT globally
  // unique — two concurrent drivers sharing one warehouse dir (or a crashed run's leftover racing a live successor)
  // would collide, and the writer's DROP+delete would destroy the other
  // run's live table. The pid makes names unique across live processes
  // AND lets the sweep prove an owner dead; the random hex covers pid
  // reuse across reboots.
  private val owner: String = {
    val pid = ProcessHandle.current().pid()
    s"${pid}_${java.util.UUID.randomUUID().toString.take(8)}"
  }
  private val tableSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val ownedName = raw"graft_pr_edges_(\d+)_.*".r

  /** A fresh table name for caller-owned staged state. The first call in
    * a JVM sweeps tables leaked by CRASHED runs: kill -9 between the
    * write and the caller's drop leaves the managed table directory
    * behind, and unique names mean no later run reclaims it by
    * collision. Only what is provably garbage goes — a directory whose
    * embedded owner pid no longer runs; a live concurrent driver's
    * tables are never touched. */
  def ownedTable(spark: SparkSession): String = {
    if (!swept) synchronized {
      if (!swept) { sweepDeadOwners(spark); swept = true }
    }
    s"graft_pr_edges_${owner}_${tableSeq.incrementAndGet()}"
  }

  @volatile private var swept = false

  private[stage] def sweepDeadOwners(spark: SparkSession): Unit =
    try {
      Option(warehouseDir(spark).listFiles()).foreach(_.foreach { d =>
        d.getName match {
          case ownedName(pid) if !ProcessHandle.of(pid.toLong).isPresent =>
            spark.sql(s"DROP TABLE IF EXISTS `${d.getName}`")
            delete(d.toPath)
          case _ => ()
        }
      })
    } catch { case NonFatal(_) => () } // hygiene must never fail a run

  /** Release everything one query left behind before the next starts:
    * cached plans, operator-managed persistent RDDs (invisible to
    * clearCache, e.g. dupClusters' final round) and staged directories.
    * Queries in a catalog session are independent, so nothing released
    * here is read again. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    drain()
  }
}
