package lifebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.ops.{Filters, Joins, Projections, Windows}
import graft.pipelines.{BdcIngest, HealIngest, LakeIndex}
import graft.render.{DbGapXmlRenderer, DocumentSink, KgxAssembler, SummaryReport}
import graft.sources.{CsvSources, MdsJsonSource, XmlDictSource}

/** One benchmark workload. `iterate` is the timed unit: generated input
  * files on disk to every output written under `out`. Everything else is
  * untimed. */
trait Workload {
  /** Timed: run the lifecycle once, writing its outputs under `out`. */
  def iterate(out: Path): Unit
  /** Untimed: counts read back from one iteration's outputs. */
  def observe(out: Path): Seq[(String, Double)]
  /** Untimed, once per run, on the first iteration's outputs: further
    * result counts and the named known-defect checks. */
  def once(out: Path): (Seq[(String, Double)], Seq[Check]) = (Nil, Nil)
  /** Per-layer metrics of one traced iteration, from its jobs. */
  def traced(jobs: Seq[JobRec]): Seq[(String, Double)] = Nil
  /** Trace only: each layer's public functions on materialized inputs. */
  def probes(t: Tracer): Seq[(String, Double)]
}

/** A named check outside the per-iteration conservation checks.
  * `known` marks a defect the program has today: it is reported by name
  * but does not fail the run. */
final case class Check(name: String, passed: Boolean, known: Boolean, detail: String)

object Files2 {
  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close() }
  def bytes(p: Path): Long = walk(p).map(Files.size).sum
  def text(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
  def occurrences(s: String, needle: String): Int = {
    var n = 0; var i = s.indexOf(needle)
    while (i >= 0) { n += 1; i = s.indexOf(needle, i + needle.length) }
    n
  }
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
}

object Workloads {
  /** The ext layer's four catalog queries, two in each workload's traced
    * run, so that neither traced run outgrows a run's time limit. */
  val LakeExtQueries: Seq[String] = Seq("x17_dup_clusters", "x59e_pagerank_multicrawl")
  val BdcExtQueries: Seq[String] = Seq("x86b_allpairs_incremental", "x68_char_bpe")

  /** Where the bdc_ingest traced run finds the HEAL inputs it hosts. */
  val HostedHeal = "heal"

  def apply(name: String, spark: SparkSession, in: Path, work: Path): Workload = name match {
    case "bdc_ingest" => new Bdc(spark, in, work)
    case "lake_index" => new Lake(spark, in, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Full materialization of every column: the benchmark's timed action
    * for frames, so no operator is pruned away. */
  def noop(df: Dataset[_]): Unit = df.write.format("noop").mode("overwrite").save()

  def cached[T](ds: Dataset[T]): Dataset[T] = { val c = ds.cache(); c.count(); c }

  /** Time `body` as a span and return its seconds. */
  def timed(t: Tracer, spark: SparkSession, name: String)(body: => Unit): Double = {
    val (_, s, _) = t.span(spark.sparkContext, name)(body)
    (s.end - s.start) / 1000.0
  }

  def dataDicts(dir: Path): Seq[Path] =
    Files2.walk(dir).filter(_.getFileName.toString.endsWith(".data_dict.xml"))

  /** Files and MB of a workload's generated inputs (the ext probes'
    * tables are not the lifecycle's). */
  def inputSize(in: Path): Seq[(String, Double)] = {
    val files = Files2.walk(in).filterNot(p => p.getFileName.toString == "expected.json" ||
      p.startsWith(in.resolve("ext")) || p.startsWith(in.resolve(HostedHeal)))
    Seq("sources.files_read" -> files.size.toDouble,
      "sources.input_mb" -> files.map(Files.size).sum / (1024.0 * 1024.0))
  }

  /** Sink probe shared by the XML-rendering lifecycles: renderDataTables
    * to noop, then writeDocuments of the cached documents. */
  def renderProbes(t: Tracer, spark: SparkSession, renderInput: DataFrame,
                   out: Path): Seq[(String, Double)] = {
    val ri = cached(renderInput)
    val xmlDocs = timed(t, spark, "render.renderDataTables")(
      noop(DbGapXmlRenderer.renderDataTables(ri)))
    val docs = cached(DbGapXmlRenderer.renderDataTables(ri))
    val sink = timed(t, spark, "render.writeDocuments")(
      DocumentSink.writeDocuments(docs, out.toString))
    Seq("render.xml_docs_s" -> xmlDocs, "render.sink_s" -> sink,
      "render.docs_written" -> Files2.walk(out).size.toDouble,
      "render.bytes_written" -> Files2.bytes(out).toDouble)
  }
}

import Workloads._

/** BDC: Gen3 SLMD + PicSure VLMD CSV → validation, join, window →
  * per-data-table XML + GapExchange + processing summary. Its traced run
  * also carries two of the ext-layer probes. */
final class Bdc(spark: SparkSession, in: Path, work: Path) extends Workload {
  private val gen3Path = in.resolve("gen3.csv").toString
  private val picPath = in.resolve("picsure.csv").toString

  private def read(): (DataFrame, DataFrame) =
    (CsvSources.readGen3Studies(spark, gen3Path),
      CsvSources.cleanPicsureVars(CsvSources.readPicsureVars(spark, picPath)))

  def iterate(out: Path): Unit = {
    val (gen3, pic) = read()
    BdcIngest.run(spark, gen3, pic, out.toString)
  }

  def observe(out: Path): Seq[(String, Double)] = {
    val dts = dataDicts(out)
    val gapx = Files2.walk(out).filter(_.getFileName.toString.startsWith("GapExchange_"))
    var vars, values = 0L
    dts.foreach { p =>
      val s = Files2.text(p)
      vars += Files2.occurrences(s, "<variable ")
      values += Files2.occurrences(s, "<value ")
    }
    val summary = Files2.text(out.resolve("processing_summary.txt"))
    def line(prefix: String): Double = summary.linesIterator
      .collectFirst { case l if l.startsWith(prefix) => l.stripPrefix(prefix).trim.toDouble }
      .getOrElse(-1.0)
    Seq("data_table_docs" -> dts.size.toDouble, "gapexchange_docs" -> gapx.size.toDouble,
      "picsure_written" -> vars.toDouble, "value_elements" -> values.toDouble,
      "gen3_valid" -> line("Successfully processed:"), "gen3_rejected" -> line("Failed:"))
  }

  override def once(out: Path): (Seq[(String, Double)], Seq[Check]) = {
    val raw = CsvSources.readPicsureVars(spark, picPath)
    (Seq("gen3_rows" -> CsvSources.readGen3Studies(spark, gen3Path).count().toDouble,
      "picsure_rows" -> raw.count().toDouble,
      "picsure_cleaned" -> CsvSources.cleanPicsureVars(raw).count().toDouble), Nil)
  }

  def probes(t: Tracer): Seq[(String, Double)] = {
    val csvRead = timed(t, spark, "sources.csv_read") {
      val (g, p) = read(); noop(g); noop(p)
    }
    val (g0, p0) = read()
    val gen3 = cached(g0)
    val pic = cached(p0)
    val validate = timed(t, spark, "ops.validationSplit") {
      val (v, r) = Filters.validationSplit(gen3, BdcIngest.requiredStudyFields)
      noop(v); noop(r)
    }
    val (v, rejects) = Filters.validationSplit(gen3, BdcIngest.requiredStudyFields)
    val studies = cached(v
      .withColumn("study_id", Projections.splitPart(col("Accession"), ".", 1))
      .withColumn("program_dir", Projections.normalizeName(col("Program"))))
    val join = timed(t, spark, "ops.broadcastEquiJoin")(noop(
      Joins.broadcastEquiJoin(pic, studies, pic("studyId") === studies("study_id"))))
    val joined = cached(
      Joins.broadcastEquiJoin(pic, studies, pic("studyId") === studies("study_id")))
    val pos = row_number().over(Window.partitionBy(col("dtId")).orderBy(col("varId")))
    val window = timed(t, spark, "ops.row_number")(noop(joined.withColumn("pos", pos)))
    // the render input BdcIngest.run builds, on the cached join
    val renderInput = joined.select(
      col("dtId").as("dt_id"), col("Accession").as("study_id"),
      col("Study Name").as("study_name"),
      col("columnmeta_var_group_description").as("group_description"),
      concat(col("program_dir"), lit("/")).as("path_prefix"), pos.as("pos"),
      col("varId").as("var_id"), col("derived_var_name").as("var_name"),
      col("columnmeta_name").as("var_title"), pic("description").as("var_description"),
      when(col("is_categorical"), "encoded value").otherwise("string").as("var_type"),
      when(col("is_categorical"), transform(col("values_arr"), (x, i) =>
        struct((i + 1).cast("string").as("code"), x.as("label")))).as("values"))
    val render = renderProbes(t, spark, renderInput, work.resolve("probe_docs"))
    val perStudy = cached(studies.select(col("study_id"),
        col("Accession").as("accession_id"), lit("SUCCESS").as("status"),
        lit("XML_generator").as("method"), lit("Generated from PicSure metadata").as("details"))
      .unionByName(rejects.select(
        Projections.splitPart(col("Accession"), ".", 1).as("study_id"),
        coalesce(col("Accession"), lit("(no accession)")).as("accession_id"),
        lit("FAILED").as("status"), lit("none").as("method"), col("reason").as("details"))))
    val summary = timed(t, spark, "render.processingSummary") {
      val overlap = Joins.prefixScanMembership(pic, pic.columns.toSeq, "phs",
        studies.select(col("study_id")).distinct(), "study_id")
      SummaryReport.processingSummary(perStudy, overlap.collect().map(_.getString(0)).toSeq)
    }
    Seq("sources.csv_read_s" -> csvRead, "ops.validate_s" -> validate,
      "ops.join_s" -> join, "ops.window_s" -> window,
      "render.summary_s" -> summary) ++ render ++
      ExtProbe.run(t, spark, in.resolve("ext").toString, work, BdcExtQueries)
  }
}

/** HEAL: MDS study JSON + HDPID mapping → variable-index CSV, per-dict
  * XML in study-type dirs, KGX. Not a workload of its own: the bdc_ingest
  * traced run hosts one iteration of it and these probes. */
final class Heal(spark: SparkSession, in: Path, work: Path) extends Workload {
  private val mds = in.resolve("mds").toString
  private val mappingPath = in.resolve("mapping.csv").toString
  private var last: HealIngest.Result = _

  def iterate(out: Path): Unit =
    last = HealIngest.run(spark, mds, CsvSources.readHdpidMapping(spark, mappingPath),
      out.toString)

  def observe(out: Path): Seq[(String, Double)] = {
    val csv = Files2.walk(out.resolve("variable_index"))
      .filter(_.getFileName.toString.endsWith(".csv"))
    // descriptions carry no newlines, so records = lines − header
    val indexRows = csv.map(p => Files2.text(p).linesIterator.size - 1L).sum
    val docs = dataDicts(out.resolve("xml"))
    val xmlVars = docs.map(p => Files2.occurrences(Files2.text(p), "<variable ").toLong).sum
    val kgx = Files2.text(out.resolve("kgx.json"))
    Seq("index_rows" -> indexRows.toDouble, "xml_docs" -> docs.size.toDouble,
      "xml_variables" -> xmlVars.toDouble,
      "kgx_edges" -> Files2.occurrences(kgx, "\"predicate\":").toDouble)
  }

  override def once(out: Path): (Seq[(String, Double)], Seq[Check]) = {
    val stubs = last.skippedDds.count().toDouble
    // HEAL ids such as `HEALCDE:dd-1` become file names; read the XML
    // output back the way LakeIndex would
    val readBack = try {
      val n = XmlDictSource.variables(
        XmlDictSource.readDataTables(spark, out.resolve("xml").toString)).count()
      Check("heal_xml_readback", passed = true, known = false, s"read back $n variables")
    } catch {
      case e: Throwable =>
        val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(x => s"${x.getClass.getSimpleName}: ${x.getMessage}").mkString(" <- ")
        val known = msg.contains("URISyntaxException") && msg.contains("Relative path in absolute URI")
        Check("heal_xml_readback", passed = false, known = known, msg.take(400))
    }
    (Seq("stub_dictionaries" -> stubs), Seq(readBack))
  }

  override def traced(jobs: Seq[JobRec]): Seq[(String, Double)] =
    Seq("sources.mds_scans" -> jobs.count(_.jsonScan).toDouble)

  /** The HEAL-only layers; the layers it shares with bdc_ingest
    * (CSV read, XML render, document sink) are measured there. */
  def probes(t: Tracer): Seq[(String, Double)] = {
    val (studies0, inferSpan, _) = t.span(spark.sparkContext, "sources.readStudies")(
      MdsJsonSource.readStudies(spark, mds))
    val studies = cached(studies0)
    val raw = cached(MdsJsonSource.variableIndex(studies))
    val uniq = timed(t, spark, "ops.uniquify")(noop(
      Windows.uniquify(raw, Seq("study_id", "dd_id"), "name", "pos", "name_uniq")))
    val uniquified = cached(
      Windows.uniquify(raw, Seq("study_id", "dd_id"), "name", "pos", "name_uniq")
        .withColumn("name", col("name_uniq")).drop("name_uniq"))
    val index = cached(uniquified.select(Seq("study_id", "dd_id", "name", "section",
      "title", "description", "type", "encodings", "logical_min", "logical_max").map(col): _*))
    val csvSink = timed(t, spark, "render.writeSingleCsv")(
      DocumentSink.writeSingleCsv(index, work.resolve("probe_csv").toString))
    val dds = cached(MdsJsonSource.dataDictionaries(studies))
    val nodes = dds.select(col("study_id").as("id")).distinct()
      .withColumn("name", col("id")).withColumn("categories", array(lit("biolink:Study")))
      .unionByName(dds.select(col("dd_id").as("id"), col("dd_label").as("name"))
        .withColumn("categories", array(lit("biolink:InformationResource"))))
    val edges = dds.select(col("dd_id").as("subject"),
      lit("biolink:related_to").as("predicate"), col("study_id").as("object"))
    val kgx = timed(t, spark, "render.toJsonDocument")(KgxAssembler.toJsonDocument(nodes, edges))
    Seq("sources.mds_infer_s" -> (inferSpan.end - inferSpan.start) / 1000.0,
      "ops.uniquify_s" -> uniq, "render.csv_sink_s" -> csvSink, "render.kgx_s" -> kgx)
  }
}

/** LakeFS index: two branches of a dbGaP-layout XML tree → per-study
  * variable counts pivoted by branch, written as one CSV. Its traced run
  * also carries two of the ext-layer probes. */
final class Lake(spark: SparkSession, in: Path, work: Path) extends Workload {
  private val branches = Seq("main", "prev")
  private val roots = branches.map(b => b -> in.resolve("lake").resolve(b).toString).toMap

  def iterate(out: Path): Unit =
    LakeIndex.run(spark, roots).coalesce(1).write.option("header", "true")
      .csv(out.resolve("lake_index").toString)

  def observe(out: Path): Seq[(String, Double)] = {
    val rows = Files2.walk(out.resolve("lake_index"))
      .filter(_.getFileName.toString.endsWith(".csv"))
      .flatMap(p => Files2.text(p).linesIterator.drop(1).filter(_.nonEmpty))
      .map(_.split(",", -1))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    // order-independent digest of (study, main, prev): sum of the first
    // 8 bytes of each row's SHA-256, mod 2^64 (lifebench/gen.py)
    val digest = rows.map { r =>
      java.nio.ByteBuffer.wrap(md.digest(s"${r(0)}|${r(1)}|${r(2)}"
        .getBytes(StandardCharsets.UTF_8)), 0, 8).getLong
    }.sum
    Seq("index_rows" -> rows.size.toDouble,
      "main_variables" -> rows.map(_(1).toLong).sum.toDouble,
      "prev_variables" -> rows.map(_(2).toLong).sum.toDouble,
      "main_studies" -> rows.count(_(1).toLong > 0).toDouble,
      "prev_studies" -> rows.count(_(2).toLong > 0).toDouble,
      // exact as a double: the high and low 32 bits separately
      "pivot_digest_hi" -> (digest >>> 32).toDouble,
      "pivot_digest_lo" -> (digest & 0xffffffffL).toDouble)
  }

  override def traced(jobs: Seq[JobRec]): Seq[(String, Double)] =
    Seq("ops.rollup_pivot_s" -> jobs.map(_.aggMs).sum / 1000.0)

  def probes(t: Tracer): Seq[(String, Double)] = {
    val (tables, inferSpan, _) = t.span(spark.sparkContext, "sources.readDataTables")(
      branches.map(b => XmlDictSource.readDataTables(spark, roots(b))))
    val scan = timed(t, spark, "sources.variables")(
      tables.foreach(dt => noop(XmlDictSource.variables(dt))))
    val files = Files2.walk(in.resolve("lake")).size
    Seq("sources.xml_infer_s" -> (inferSpan.end - inferSpan.start) / 1000.0,
      "sources.xml_scan_s" -> scan, "sources.xml_ms_per_file" -> scan * 1000.0 / files) ++
      ExtProbe.run(t, spark, in.resolve("ext").toString, work, LakeExtQueries)
  }
}

/** The ext layer: catalog queries that stage to disk and read back.
  * Each runs once untimed, writing its result as parquet for the
  * oracle check, then once timed as a full noop write whose row count is
  * observed. */
object ExtProbe {
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    graft.ext.Dedup.drainStageDirs()
  }

  def run(t: Tracer, spark: SparkSession, dir: String, work: Path,
          queries: Seq[String]): Seq[(String, Double)] = {
    val check = work.resolve("ext_check")
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.createDirectories(check)
    Files.writeString(work.resolve("ext_oracle_sql.json"),
      Json.obj(sql.toSeq.map { case (k, v) => k -> Json.str(v) }))
    var stageBytes = 0L
    queries.flatMap { q =>
      val query = graft.SparkEntry.queries(q)
      query(spark, dir).coalesce(1).write.mode("overwrite").parquet(check.resolve(q).toString)
      cleanup(spark)
      val pinned = spark.read.parquet(check.resolve(q).toString).count().toDouble
      val obs = Observation(q)
      val io0 = Main.ioWriteBytes()
      val secs = timed(t, spark, s"ext.$q")(
        noop(query(spark, dir).observe(obs, count(lit(1)).as("rows"))))
      stageBytes += Main.ioWriteBytes() - io0
      cleanup(spark)
      Seq(s"ext.${q}_s" -> secs, s"ext.rows.$q" -> obs.get("rows").asInstanceOf[Long].toDouble,
        s"ext.pinned.$q" -> pinned)
    } :+ ("ext.stage_write_mb" -> stageBytes / (1024.0 * 1024.0))
  }
}
