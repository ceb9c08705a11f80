package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp
import graft.stage.Stage

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents = Seq(
    (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 10L, "click", 1.5),
    (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 10L, "click", 1.5), // dup
    (2L, Timestamp.valueOf("2024-01-01 00:40:00"), 10L, "click", 2.5),
    (3L, Timestamp.valueOf("2024-01-01 01:10:00"), 11L, "view", 4.0) // advances watermark past 01:00
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("AvailableNow file stream: windowed counts drain to sink exactly once") {
    val src = Files.createTempDirectory("src").toString
    val sink = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    mkEvents.write.mode("overwrite").parquet(src)

    // 0s watermark delay: append-mode windows close as soon as a later
    // event arrives; the [00:00,01:00) click window finalizes, the
    // [01:00,02:00) view window stays open in state
    def pipeline = EventStreams.hourlyCounts(EventStreams.dedupStream(
      EventStreams.watermarked(
        EventStreams.fileSource(spark, src, mkEvents.schema), delay = "0 seconds"),
      Seq("event_id")))
    val q = EventStreams.runAvailableNow(pipeline, sink, ckpt)
    q.awaitTermination(120000)

    val out = spark.read.parquet(sink)
      .select("event_type", "n").as[(String, Long)].collect()
    assert(out.sameElements(Array(("click", 2L)))) // dup dropped, view pending

    // restart with same checkpoint: nothing new to process (skip-if-exists)
    val q2 = EventStreams.runAvailableNow(pipeline, sink, ckpt)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(sink).count() == 1)
  }

  test("stream-static enrich broadcasts the dim; fingerprint dedup drops near-exact dups") {
    val src = Files.createTempDirectory("esrc").toString
    val sink = Files.createTempDirectory("esink").toString
    val ckpt = Files.createTempDirectory("eckpt").toString
    val docs = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), "en", "Hello  World"),
      (2L, Timestamp.valueOf("2024-01-01 00:11:00"), "en", "hello world"), // same fingerprint
      (3L, Timestamp.valueOf("2024-01-01 00:12:00"), "de", "Hallo Welt")
    ).toDF("doc_id", "ts", "lang", "text")
    docs.write.mode("overwrite").parquet(src)
    val dim = Seq(("en", "English"), ("de", "German")).toDF("lang", "lang_name")

    val pipeline = EventStreams.enrichStream(
      EventStreams.dedupStreamByFingerprint(
        EventStreams.watermarked(
          EventStreams.fileSource(spark, src, docs.schema), delay = "1 hour"),
        "text"),
      dim, "lang")
    val q = EventStreams.runAvailableNow(pipeline, sink, ckpt)
    q.awaitTermination(120000)

    val out = spark.read.parquet(sink)
      .select("doc_id", "lang_name").as[(Long, String)].collect().sortBy(_._1)
    // doc 2 deduplicated by canonical-form fingerprint; dims enriched
    assert(out.map(_._1).sameElements(Array(1L, 3L)))
    assert(out.map(_._2).sameElements(Array("English", "German")))
  }

  test("stream-stream interval join: clicks attribute to impressions within the bound") {
    val srcI = Files.createTempDirectory("imp").toString
    val srcC = Files.createTempDirectory("clk").toString
    val sink = Files.createTempDirectory("jsink").toString
    val ckpt = Files.createTempDirectory("jckpt").toString
    val impressions = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00")),
      (2L, Timestamp.valueOf("2024-01-01 00:20:00")),
      (99L, Timestamp.valueOf("2024-01-01 03:00:00")) // watermark advancer
    ).toDF("ad_id", "imp_ts")
    val clicks = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:15:00")), // within 10 min -> match
      (1L, Timestamp.valueOf("2024-01-01 01:30:00")), // outside bound -> dropped
      (2L, Timestamp.valueOf("2024-01-01 00:25:00")), // match
      (99L, Timestamp.valueOf("2024-01-01 03:00:00")) // watermark advancer
    ).toDF("ad_id", "click_ts")
    impressions.write.mode("overwrite").parquet(srcI)
    clicks.write.mode("overwrite").parquet(srcC)

    val joined = EventStreams.intervalJoinStreams(
      EventStreams.watermarked(
        EventStreams.fileSource(spark, srcI, impressions.schema), "imp_ts", "0 seconds"),
      EventStreams.watermarked(
        EventStreams.fileSource(spark, srcC, clicks.schema), "click_ts", "0 seconds"),
      "ad_id", "imp_ts", "click_ts", "10 minutes")
    val q = EventStreams.runAvailableNow(joined, sink, ckpt)
    q.awaitTermination(120000)

    val out = spark.read.parquet(sink)
      .filter(col("ad_id") < 99)
      .select("ad_id", "click_ts").as[(Long, Timestamp)].collect().sortBy(_._1)
    assert(out.map(_._1).sameElements(Array(1L, 2L)))
    assert(out(0)._2 == Timestamp.valueOf("2024-01-01 00:15:00"))
    assert(out(1)._2 == Timestamp.valueOf("2024-01-01 00:25:00"))
  }

  test("foreachBatch upsert sink: re-delivered batch overwrites, not duplicates") {
    val src = Files.createTempDirectory("usrc").toString
    val sink = Files.createTempDirectory("usink").toString
    val ckpt = Files.createTempDirectory("uckpt").toString
    mkEvents.write.mode("overwrite").parquet(src)
    def run() = {
      val q = EventStreams.runAvailableNowUpsert(
        EventStreams.fileSource(spark, src, mkEvents.schema), sink, ckpt)
      q.awaitTermination(120000)
    }
    run()
    val n1 = spark.read.parquet(sink).count()
    assert(n1 == 4)
    // simulate a replay of batch 0: wipe the checkpoint so the same files
    // re-deliver with the same batch id — the partition overwrites
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(ckpt))
    run()
    assert(spark.read.parquet(sink).count() == 4) // no duplication
  }

  test("curation projections lift to streams unchanged (stateless stage parity)") {
    // the curation ops that are pure projections/filters — quality score,
    // token stats, mixture sampling — run on a readStream EXACTLY as on a
    // batch frame (same Column expressions, no stateful operator): the
    // streaming ingest path reuses the oracle-proven batch definitions
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "web"),
      (2L, "lorem ipsum dolor sit amet consectetur", "web"),
      (3L, "short", "books"),
      (4L, "a much longer document with plenty of perfectly ordinary tokens", "books"),
      (5L, "yet another document for the mixture to sample from", "web")
    ).toDF("doc_id", "text", "source")
    val src = Files.createTempDirectory("cursrc").toString
    docs.write.mode("overwrite").parquet(src)
    val ws = graft.ext.TextStats.seededWeightsQ30(64)
    def stage(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.ext.Curation.mixtureSample(df, "doc_id", "source",
          Map("web" -> 800), 500)
        .withColumn("n_tok", graft.ext.TextStats.tokenCount(col("text")))
        .withColumn("score_q30",
          graft.ext.TextStats.hashedLinearScoreQ30(col("text"), ws))
        .filter(col("n_tok") >= 3)
        .select("doc_id", "source", "n_tok", "score_q30")
    val expected = stage(docs).as[(Long, String, Int, Long)].collect().sortBy(_._1)

    val q = stage(spark.readStream.schema(docs.schema).parquet(src))
      .writeStream.trigger(Trigger.AvailableNow())
      .format("memory").queryName("cur_stream").start()
    q.awaitTermination(120000)
    val got = spark.table("cur_stream")
      .as[(Long, String, Int, Long)].collect().sortBy(_._1)
    assert(got.sameElements(expected))
  }

  test("trained quality filter deploys on the ingest stream (x65 artifacts, stateless parity)") {
    // train ONCE on a batch frame (eager, bounded-driver artifacts),
    // deploy the SAME weights+threshold on a readStream: scoring is a
    // pure projection, so the streamed verdicts must be byte-equal to
    // the batch run's — the x65 model filters the ingest stream with no
    // retrain and no stateful operator. The HTML extraction (x66) and
    // token chunking (x67) projections ride the same stream stage,
    // pinning that the round's whole stateless family lifts to streams.
    val docs = Seq(
      (1L, "alpha beta beta gamma delta epsilon zeta eta theta iota"),
      (2L, "short doc"),
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, "tiny"),
      (5L, "k l m n o p q r s t u v w x y z aa bb cc dd")
    ).toDF("doc_id", "text")
    val src = Files.createTempDirectory("qfsrc").toString
    docs.write.mode("overwrite").parquet(src)
    // label: >= 10 tokens; both classes present
    val lab = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
      "\\s+")) >= 10, 1L).otherwise(-1L)
    val (w, thr) = graft.ext.Learn.centroidThresholdTrain(
      docs.withColumn("_y", lab), "text", "doc_id", "_y", 16)
    def stage(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.ext.Curation.chunkByTokens(
        df.withColumn("keep",
            graft.ext.Learn.centroidScore(col("text"), w) > thr)
          .filter(col("keep")),
        "text", "doc_id", 6, 4)
    val expected = stage(docs)
      .as[(Long, Long, Long, String)].collect().sortBy(c => (c._1, c._2))
    assert(expected.nonEmpty && expected.map(_._1).toSet != docs
      .as[(Long, String)].collect().map(_._1).toSet,
      "fixture must keep some docs and drop some")
    val q = stage(spark.readStream.schema(docs.schema).parquet(src))
      .writeStream.trigger(Trigger.AvailableNow())
      .format("memory").queryName("qf_stream").start()
    q.awaitTermination(120000)
    val got = spark.table("qf_stream")
      .as[(Long, Long, Long, String)].collect().sortBy(c => (c._1, c._2))
    assert(got.sameElements(expected))
  }

  test("wide quality model deploys on the ingest stream (x65c artifact, foreachBatch parity)") {
    // the PRODUCTION-WIDTH deployment: train once (weight table staged
    // to parquet by the trainer), then score each ingest micro-batch
    // with centroidScoreJoin — a broadcast join of the staged artifact,
    // no retrain, no literal rebuild. Scoring is per-doc aggregation, so
    // the stream shape is foreachBatch (micro-batch = batch semantics);
    // the streamed scores must be byte-equal to one batch run.
    val docs = Seq(
      (1L, "alpha beta beta gamma delta epsilon zeta eta theta iota"),
      (2L, "short doc"),
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, "tiny"),
      (5L, "k l m n o p q r s t u v w x y z aa bb cc dd")
    ).toDF("doc_id", "text")
    val src = Files.createTempDirectory("wqsrc").toString
    docs.write.mode("overwrite").parquet(src)
    val lab = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
      "\\s+")) >= 10, 1L).otherwise(-1L)
    val (w, thr) = graft.ext.Learn.centroidThresholdTrainJoin(
      docs.withColumn("_y", lab), "text", "doc_id", "_y", 4096)
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Learn.centroidScoreJoin(df, "text", "doc_id", w, 4096)
        .select(col("doc_id"), col("score").cast("long").as("s"),
          (col("score") > thr).as("keep"))
    val expected = score(docs).as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(expected.map(_._3).toSet == Set(true, false),
      "fixture must keep some docs and drop some")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val q = spark.readStream.schema(docs.schema).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= score(batch).as[(Long, Long, Boolean)].collect()
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(got.sortBy(_._1).toSeq == expected.toSeq)
  }

  test("trained tokenizers deploy on the ingest stream (x74c/x76b artifacts, foreachBatch parity)") {
    // train ONCE (unigram-LM vocabulary as a staged frame; WordPiece
    // merges + vocab map), then score/segment each ingest micro-batch
    // under the FROZEN artifacts — both passes are per-doc projections
    // plus an id-keyed roll-up, so micro-batch = batch semantics and the
    // streamed union must equal one batch run byte for byte. Doc 5 holds
    // a character outside the training inventory, so the oov/[UNK] arms
    // are live on the stream too.
    val train = Seq(
      (1L, "aba aba cab"),
      (2L, "aba cab cab bba"),
      (3L, "bab bab aba"),
      (4L, "cab aba")).toDF("doc_id", "text")
    val docs = train.unionByName(
      Seq((5L, "aba zzß cab")).toDF("doc_id", "text"))
    val src = Files.createTempDirectory("toksrc").toString
    docs.repartition(2).write.mode("overwrite").parquet(src)
    // unigram: trained vocab staged to parquet — the x74d production shape
    val uv = graft.ext.Unigram.unigramTrain(train, "text", 3, 16, 10, 2, 20)
    val uvDir = Files.createTempDirectory("tokvoc").toString
    uv.write.mode("overwrite").parquet(uvDir)
    // WordPiece: merges + minFreq-1 literal vocab
    val wm = graft.ext.WordPiece.wordPieceTrain(train, "text", 2, 16)
    val wv = graft.ext.WordPiece.wordPieceVocab(train, "text", wm, 16, 1L)
    def stage(df: org.apache.spark.sql.DataFrame) = {
      val vocab = spark.read.parquet(uvDir)
      graft.ext.Unigram.scoreDocsJoin(df, "text", "doc_id", vocab, 3, 16)
        .join(graft.ext.WordPiece.segmentDocs(df, "text", "doc_id", wv, 8, 16)
          .select(col("doc_id"), col("n_words").as("wp_words"),
            col("n_unk"), col("n_pieces").as("wp_pieces"), col("seg_md5")),
          "doc_id")
    }
    val expected = stage(docs)
      .as[(Long, Long, Long, Long, Long, Option[Long], Long, Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(expected.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(expected.find(_._1 == 5L).get._3 > 0, "doc 5 must have unigram oov")
    assert(expected.find(_._1 == 5L).get._8 > 0, "doc 5 must have a [UNK] word")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Option[Long], Long, Long, Long, String)]
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= stage(batch).as[(Long, Long, Long, Long, Long, Option[Long],
          Long, Long, Long, String)].collect()
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(got.sortBy(_._1).toSeq == expected)
  }

  test("bloom decontamination deploys on the ingest stream (x23d bitmap frozen, stateless parity)") {
    // the bitmap builds ONCE from the eval corpus and freezes (staged to
    // parquet — at 100 TB the eval side is itself corpus-scale, which is
    // the bloom's reason to exist); each ingest micro-batch probes the
    // SAME frozen bitmap, so the streamed flag set must equal the batch
    // run's — including any md5-deterministic false positives.
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "something with the quick brown fox inside"),
      (2L, "entirely unrelated content right here"),
      (3L, "quick brown fox appears again"),
      (4L, "more clean text nothing shared")).toDF("doc_id", "text")
    val src = Files.createTempDirectory("bloomsrc").toString
    docs.repartition(2).write.mode("overwrite").parquet(src)
    val bitsDir = Files.createTempDirectory("bloombits").toString
    graft.ext.Dedup.bloomGramBits(bench, "text", 3, 131072, 3)
      .write.mode("overwrite").parquet(bitsDir)
    def probe(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Dedup.contaminatedDocsBloom(df,
        spark.read.parquet(bitsDir), "text", "doc_id", 3, 131072, 3)
    val expected = probe(docs).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(expected.nonEmpty && expected.size < 4,
      s"fixture must flag some docs and pass others: $expected")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= probe(batch).as[(Long, Long)].collect()
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(got.sortBy(_._1).toSeq == expected)
  }

  test("windowed quantile maintenance: per-batch per-window states merge ≡ one-shot (et7 on a stream)") {
    // the streaming form of et7: each micro-batch builds its own
    // per-hour-window quantile states; merging them per window equals
    // the one-shot batch state bit-for-bit (bottom-k coordination), so
    // window percentiles over an unbounded stream never rescan prior
    // batches — and a late-arriving event for an OLD window just merges
    // into that window's state like any other row (no reprocessing).
    import org.apache.spark.sql.DataFrame
    val ev = (1L to 90L).map(i => (i, i % 5, (i * 37 % 100) + 1))
      .toDF("event_id", "wh", "cents")
    val src = Files.createTempDirectory("wqsrc").toString
    ev.repartition(3).write.mode("overwrite").parquet(src)
    def state(df: DataFrame) =
      graft.ext.Sketch.qsState(df, Seq("wh"), "event_id", "cents", 8)
    val oneShot = graft.ext.Sketch.qsQuantiles(state(ev), Seq("wh"),
        Seq(500, 950)).as[(Long, Long, Long)].collect().sorted.toSeq
    val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long, Long)]]
    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        parts += state(batch).as[(Long, Long, Long)].collect().toSeq
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(parts.size >= 2, s"want >= 2 micro-batches, got ${parts.size}")
    val streamed = graft.ext.Sketch.qsQuantiles(
      graft.ext.Sketch.qsMerge(
        parts.toSeq.map(_.toDF("wh", "h", "v")), Seq("wh"), 8),
      Seq("wh"), Seq(500, 950)).as[(Long, Long, Long)].collect().sorted.toSeq
    assert(streamed == oneShot)
  }

  test("sketch clip bounds deploy on the ingest stream (x92c artifact, stateless parity)") {
    // the quantile state builds ONCE on the base corpus and its p25/p75
    // clip bounds FREEZE (staged to parquet — the x92c winsorization
    // artifact); each ingest micro-batch clamps through the same frozen
    // bounds as a stream-static broadcast join. Clamping is a pure
    // projection under frozen bounds, so the streamed rows must be
    // byte-equal to the batch clamp's.
    import org.apache.spark.sql.DataFrame
    val docs = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) "en" else "de", i * 7L))
      .toDF("doc_id", "lang", "n_chars")
    val src = Files.createTempDirectory("clipsrc").toString
    docs.repartition(2).write.mode("overwrite").parquet(src)
    val boundsDir = Files.createTempDirectory("clipbounds").toString
    graft.ext.Sketch.qsQuantiles(
        graft.ext.Sketch.qsState(docs, Seq("lang"), "doc_id", "n_chars", 8),
        Seq("lang"), Seq(250, 750))
      .groupBy(col("lang")).agg(
        min(when(col("permille") === 250, col("est"))).as("lo"),
        min(when(col("permille") === 750, col("est"))).as("hi"))
      .write.mode("overwrite").parquet(boundsDir)
    def clamp(df: DataFrame) =
      df.join(broadcast(spark.read.parquet(boundsDir)), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          greatest(col("lo"), least(col("hi"), col("n_chars"))).as("clipped"))
    val expected = clamp(docs).as[(Long, String, Long)].collect().sortBy(_._1)
    assert(expected.length == 40 &&
      expected.map(_._3).distinct.length < 40,
      "fixture must actually clip (bounds inside the value range)")
    val q = clamp(spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src))
      .writeStream.trigger(Trigger.AvailableNow())
      .format("memory").queryName("clip_stream").start()
    q.awaitTermination(120000)
    val got = spark.table("clip_stream")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.sameElements(expected))
  }

  test("streaming sketch maintenance: per-batch CMS/HLL/KMV/quantile merges ≡ one-shot state") {
    // continuous-ingest sketches: each micro-batch builds its own cells /
    // registers / bottom-k sample and MERGES into the running state — the
    // stream never rescans prior batches. Because the states are sums /
    // maxes / bottom-ks (associative + commutative), the post-stream
    // state must equal the one-shot batch sketch BIT-FOR-BIT, whatever
    // the micro-batch boundaries were.
    import org.apache.spark.sql.DataFrame
    val docs = (1L to 60L).map(i => (i, s"w${i % 7} w${i % 11} w${i % 13}"))
      .toDF("doc_id", "text")
    val src = Files.createTempDirectory("sketchsrc").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    def toks(df: DataFrame) =
      df.select(explode(split(col("text"), " ")).as("tok"))
        .withColumn("k", lit("all"))
    val all = toks(docs)
    val estOne = graft.ext.Sketch.cmsEstimate(all,
      graft.ext.Sketch.cmsSketch(all, "tok", 256, 4), "tok", 256, 4)
      .as[(String, Long)].collect().toMap
    val hllOne = graft.ext.Sketch.hllEstimate(
      graft.ext.Sketch.hllRegisters(all, Seq("k"), "tok", 8), Seq("k"), 8)
      .as[(String, Long)].collect().toMap
    val kmvOne = graft.ext.Sketch.kmvState(all, "tok", 8)
      .as[Long].collect().sorted.toSeq
    def lens(df: DataFrame) = df.select(col("doc_id"),
      lit("all").as("k"), length(col("text")).cast("long").as("len"))
    val qsOne = graft.ext.Sketch.qsQuantiles(
      graft.ext.Sketch.qsState(lens(docs), Seq("k"), "doc_id", "len", 16),
      Seq("k"), Seq(500, 900)).as[(String, Long, Long)].collect().sorted.toSeq

    val cmsB = scala.collection.mutable.ArrayBuffer.empty[Seq[(Int, Long, Long)]]
    val hllB = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long, Long)]]
    val kmvB = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val qsB = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long, Long)]]
    val cntB = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String, Long)]]
    val binB = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long, Long)]]
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val t = toks(batch)
        cmsB += graft.ext.Sketch.cmsSketch(t, "tok", 256, 4)
          .as[(Int, Long, Long)].collect().toSeq
        hllB += graft.ext.Sketch.hllRegisters(t, Seq("k"), "tok", 8)
          .as[(String, Long, Long)].collect().toSeq
        kmvB += graft.ext.Sketch.kmvState(t, "tok", 8)
          .as[Long].collect().toSeq
        qsB += graft.ext.Sketch.qsState(
          lens(batch), Seq("k"), "doc_id", "len", 16)
          .as[(String, Long, Long)].collect().toSeq
        cntB += t.groupBy(col("k"), col("tok"))
          .agg(count(lit(1)).as("c"))
          .as[(String, String, Long)].collect().toSeq
        binB += graft.ext.TextStats.floorBinCounts(lens(batch), Seq("k"),
          "len", 16L, "c", "EventStreamsSpec")
          .as[(String, Long, Long)].collect().toSeq
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(cmsB.size >= 2, s"want >= 2 micro-batches, got ${cmsB.size}")

    val estStream = graft.ext.Sketch.cmsEstimate(all,
      graft.ext.Sketch.cmsMerge(cmsB.toSeq.map(_.toDF("row", "pos", "c"))),
      "tok", 256, 4).as[(String, Long)].collect().toMap
    assert(estStream == estOne)
    val hllStream = graft.ext.Sketch.hllEstimate(
      graft.ext.Sketch.hllMerge(
        hllB.toSeq.map(_.toDF("k", "bucket", "reg")), Seq("k")), Seq("k"), 8)
      .as[(String, Long)].collect().toMap
    assert(hllStream == hllOne)
    val kmvStream = graft.ext.Sketch.kmvMerge(
      kmvB.toSeq.map(_.toDF("h")), 8).as[Long].collect().sorted.toSeq
    assert(kmvStream == kmvOne)
    val qsStream = graft.ext.Sketch.qsQuantiles(
      graft.ext.Sketch.qsMerge(
        qsB.toSeq.map(_.toDF("k", "h", "v")), Seq("k"), 16),
      Seq("k"), Seq(500, 900)).as[(String, Long, Long)].collect().sorted.toSeq
    assert(qsStream == qsOne)
    // x97 drift distribution rides the same property: per-micro-batch
    // token counts re-sum (mergeTokenCounts) to the one-shot table, so
    // the drift score against a FIXED release A is bit-identical to the
    // batch computation — the streaming arm of the x97b ingest pin
    val relA = (1L to 30L).map(i => (i, s"w${i % 5} w${i % 7}"))
      .toDF("doc_id", "text")
    def cnts(df: DataFrame) = toks(df)
      .groupBy(col("k"), col("tok")).agg(count(lit(1)).as("c"))
    val driftOne = graft.ext.TextStats.distributionDriftQ8(
      cnts(relA), cnts(docs), Seq("k"), "tok", "c")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sorted.toSeq
    val driftStream = graft.ext.TextStats.distributionDriftQ8(
      cnts(relA),
      graft.ext.TextStats.mergeTokenCounts(
        cntB.toSeq.map(_.toDF("k", "tok", "c")), Seq("k"), "tok", "c"),
      Seq("k"), "tok", "c")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sorted.toSeq
    assert(driftStream == driftOne, s"stream=$driftStream one=$driftOne")
    // the PSI alert rides the same mergeable counts — identical per-key
    // PSI and alert bits from the per-micro-batch count merge
    val psiOne = graft.ext.TextStats.psiDriftQ8(
      cnts(relA), cnts(docs), Seq("k"), "tok", "c", 32L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sorted.toSeq
    val psiStream = graft.ext.TextStats.psiDriftQ8(
      cnts(relA),
      graft.ext.TextStats.mergeTokenCounts(
        cntB.toSeq.map(_.toDF("k", "tok", "c")), Seq("k"), "tok", "c"),
      Seq("k"), "tok", "c", 32L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sorted.toSeq
    assert(psiStream == psiOne, s"stream=$psiStream one=$psiOne")
    // x97f/x97g ride the same mergeable property at the BIN level:
    // per-micro-batch floor-bin counts re-sum to the one-shot bin
    // table, so the KS statistic and Cliff's delta against the FIXED
    // release A are bit-identical to the batch computation
    val binsRelA = graft.ext.TextStats.floorBinCounts(lens(relA),
      Seq("k"), "len", 16L, "c", "EventStreamsSpec")
    val binsMerged = binB.toSeq.map(_.toDF("k", "_ks_bin", "c"))
      .reduce(_ unionByName _)
      .groupBy(col("k"), col("_ks_bin")).agg(sum(col("c")).as("c"))
    val ksOne = graft.ext.TextStats.ksDriftQ20(
      lens(relA), lens(docs), Seq("k"), "len", 16L, 1L)
      .as[(String, Long, Long, Long, Option[Long], Long)]
      .collect().sorted.toSeq
    val ksStream = graft.ext.TextStats.ksDriftFromBins(
      binsRelA, binsMerged, Seq("k"), "_ks_bin", "c", 1L)
      .as[(String, Long, Long, Long, Option[Long], Long)]
      .collect().sorted.toSeq
    assert(ksStream == ksOne, s"stream=$ksStream one=$ksOne")
    val cdOne = graft.ext.TextStats.cliffsDeltaQ20(
      lens(relA), lens(docs), Seq("k"), "len", 16L)
      .as[(String, Long, Long, Long, Long, Option[Long])]
      .collect().sorted.toSeq
    val cdStream = graft.ext.TextStats.cliffsDeltaFromBins(
      binsRelA, binsMerged, Seq("k"), "_ks_bin", "c")
      .as[(String, Long, Long, Long, Long, Option[Long])]
      .collect().sorted.toSeq
    assert(cdStream == cdOne, s"stream=$cdStream one=$cdOne")
    val w1One = graft.ext.TextStats.wassersteinDriftQ20(
      lens(relA), lens(docs), Seq("k"), "len", 16L)
      .as[(String, Long, Long, Option[Long])].collect().sorted.toSeq
    val w1Stream = graft.ext.TextStats.wassersteinFromBins(
      binsRelA, binsMerged, Seq("k"), "_ks_bin", "c", unitsPerBin = 16L)
      .as[(String, Long, Long, Option[Long])].collect().sorted.toSeq
    assert(w1Stream == w1One, s"stream=$w1Stream one=$w1One")
  }

  test("streaming kendall-cell maintenance: per-batch cells merge ≡ one-shot tau (x101b on a stream)") {
    // scorer-agreement under ingest: each micro-batch reduces to its own
    // score cells; cells are SUMS, so the merged table — whatever the
    // micro-batch boundaries — must replay the one-shot tau bit-for-bit
    import org.apache.spark.sql.DataFrame
    val docs = (1L to 48L).map(i => (i, s"g${i % 3}", i % 7, (i * i) % 11))
      .toDF("doc_id", "g", "x", "y")
    val src = Files.createTempDirectory("ktsrc").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    def rows(df: DataFrame) = df
      .as[(String, Long, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    val one = rows(graft.ext.Learn.kendallTauAQ20(docs, Seq("g"), "x", "y"))
    val cellB =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long, Long, Long)]]
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cellB += graft.ext.Learn.kendallCells(batch, Seq("g"), "x", "y")
          .as[(String, Long, Long, Long)].collect().toSeq
        ()
      }.start()
    q.awaitTermination(120000)
    assert(cellB.size >= 2, s"want >= 2 micro-batches, got ${cellB.size}")
    val merged = graft.ext.Learn.mergeKendallCells(
      cellB.toSeq.map(b => b.toDF("g", "_kt_x", "_kt_y", "_kt_o")), Seq("g"))
    val streamed = rows(graft.ext.Learn.kendallTauAFromCells(merged, Seq("g")))
    assert(streamed == one, s"stream=$streamed one=$one")
  }

  test("streaming release-gate maintenance: per-batch QI counts merge ≡ one-shot k-anonymity (x100d on a stream)") {
    // the release gate under ingest: each micro-batch reduces to its
    // own QI-group counts; counts are sums over row shards, so the
    // merged table must replay the one-shot audit bit-for-bit
    import org.apache.spark.sql.DataFrame
    val docs = (1L to 40L).map(i => (i, s"g${i % 2}", s"q${i % 5}"))
      .toDF("id", "g", "qi")
    val src = Files.createTempDirectory("kanonsrc").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    def rows(df: DataFrame) =
      df.as[(String, Long, Long, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
    val one = rows(graft.ext.Curation.kAnonymityAudit(
      docs, Seq("g"), Seq("qi"), 5L))
    val cntB =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String, Long)]]
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cntB += graft.ext.Curation.qiGroupCounts(batch, Seq("g"), Seq("qi"))
          .as[(String, String, Long)].collect().toSeq
        ()
      }.start()
    q.awaitTermination(120000)
    assert(cntB.size >= 2, s"want >= 2 micro-batches, got ${cntB.size}")
    val merged = graft.ext.Curation.mergeQiGroupCounts(
      cntB.toSeq.map(b => b.toDF("g", "qi", "_kan_c")), Seq("g"), Seq("qi"))
    val streamed = rows(graft.ext.Curation.kAnonymityFromCounts(
      merged, Seq("g"), 5L))
    assert(streamed == one, s"stream=$streamed one=$one")
  }

  test("streaming l-diversity: per-batch sensitive cells merge ≡ one-shot audit (x100e on a stream)") {
    // the diversity gate under ingest: each micro-batch reduces to its
    // own (g, qi, sv) cells; the distinct-sensitive census is the
    // merged table's cell count, so the merged audit must replay the
    // one-shot bit-for-bit
    import org.apache.spark.sql.DataFrame
    val docs = (1L to 40L).map(i => (i, s"g${i % 2}", s"q${i % 5}", i % 7))
      .toDF("id", "g", "qi", "sv")
    val src = Files.createTempDirectory("ldivsrc").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    def rows(df: DataFrame) =
      df.as[(String, Long, Long, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
    val one = rows(graft.ext.Curation.lDiversityAudit(
      docs, Seq("g"), Seq("qi"), "sv", 3L))
    val cellB = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(String, String, Long, Long)]]
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cellB += graft.ext.Curation.lDiversityCells(batch,
            Seq("g"), Seq("qi"), "sv")
          .as[(String, String, Long, Long)].collect().toSeq
        ()
      }.start()
    q.awaitTermination(120000)
    assert(cellB.size >= 2, s"want >= 2 micro-batches, got ${cellB.size}")
    val merged = graft.ext.Curation.mergeLDiversityCells(
      cellB.toSeq.map(b => b.toDF("g", "qi", "sv", "_ld_c")),
      Seq("g"), Seq("qi"), "sv")
    val streamed = rows(graft.ext.Curation.lDiversityFromCells(
      merged, Seq("g"), Seq("qi"), 3L))
    assert(streamed == one, s"stream=$streamed one=$one")
  }

  test("streaming t-closeness: per-batch sensitive cells merge ≡ one-shot audit (x100f on a stream)") {
    // the distribution gate under ingest: the key's global distribution
    // and every group's CDF re-derive from merged cells, so the
    // streamed audit replays the one-shot ordered-EMD bit-for-bit
    import org.apache.spark.sql.DataFrame
    val docs = (1L to 40L).map(i => (i, s"g${i % 2}", s"q${i % 5}", i % 7))
      .toDF("id", "g", "qi", "sv")
    val src = Files.createTempDirectory("tclosesrc").toString
    docs.repartition(3).write.mode("overwrite").parquet(src)
    def rows(df: DataFrame) =
      df.as[(String, Long, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
    val one = rows(graft.ext.Curation.tClosenessAudit(
      docs, Seq("g"), Seq("qi"), "sv"))
    val cellB = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(String, String, Long, Long)]]
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cellB += graft.ext.Curation.tClosenessCells(batch,
            Seq("g"), Seq("qi"), "sv")
          .as[(String, String, Long, Long)].collect().toSeq
        ()
      }.start()
    q.awaitTermination(120000)
    assert(cellB.size >= 2, s"want >= 2 micro-batches, got ${cellB.size}")
    val merged = graft.ext.Curation.mergeTClosenessCells(
      cellB.toSeq.map(b => b.toDF("g", "qi", "_tc_sv", "_tc_c")),
      Seq("g"), Seq("qi"))
    val streamed = rows(graft.ext.Curation.tClosenessFromCells(
      merged, Seq("g"), Seq("qi")))
    assert(streamed == one, s"stream=$streamed one=$one")
  }

  test("streamed calibrator deploy: per-micro-batch calibrateScores == one-shot batch deploy") {
    // the x96b histogram calibrator as a STREAM consumer: the (bin,
    // conf) table trains once on a fixed calibration frame, and each
    // micro-batch of arriving scores picks up its calibrated Q20
    // probability through the same broadcast join — the deploy side is
    // a stateless projection, so the union over micro-batches must be
    // row-identical to the one-shot batch deploy (the x65b pattern).
    import org.apache.spark.sql.DataFrame
    val cal = Seq((1L, 5L), (-1L, 7L), (1L, 12L), (-1L, 35L), (1L, 35L),
      (-1L, -13L)).toDF("y", "s")
    // scores spanning calibrated bins, an unseen bin, and a negative
    // floor bin (the duckdb-truncation regression surface)
    val dep = (1L to 30L).map(i => (i, (i % 7) * 10L - 20L))
      .toDF("doc_id", "s")
    val one = graft.ext.Learn.calibrateScores(cal, dep, "y", "s",
        "doc_id", 10L)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    // the isotonic deploy is even more stream-trivial (a plan-literal
    // step table, no join) — pin its parity in the same pass
    val onePav = graft.ext.Learn.pavCalibrateScores(cal, dep, "y", "s",
        "doc_id", 10L)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val src = java.nio.file.Files
      .createTempDirectory("graft_calib_stream_").toString
    dep.repartition(3).write.mode("overwrite").parquet(src)
    val outB = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, Long, Long, Long)]]
    val outPav = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, Long, Long, Long)]]
    val q = spark.readStream.schema(dep.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        outB += graft.ext.Learn.calibrateScores(cal, batch, "y", "s",
            "doc_id", 10L)
          .as[(Long, Long, Long, Long)].collect().toSeq
        outPav += graft.ext.Learn.pavCalibrateScores(cal, batch, "y",
            "s", "doc_id", 10L)
          .as[(Long, Long, Long, Long)].collect().toSeq
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(outB.size >= 2, s"want >= 2 micro-batches, got ${outB.size}")
    assert(outB.toSeq.flatten.sorted == one,
      s"stream=${outB.toSeq.flatten.sorted} one=$one")
    assert(outPav.toSeq.flatten.sorted == onePav,
      s"pav stream=${outPav.toSeq.flatten.sorted} one=$onePav")
  }

  test("foreachBatch SCD2 maintenance: streamed batches compose like sequential merges") {
    // streaming dimension maintenance: each micro-batch of change events
    // MERGEs into the versioned table via ops.Merge.scd2Merge — the
    // stream-side contract is that N sequential micro-batches leave the
    // same SCD2 state as N sequential batch merges
    import org.apache.spark.sql.DataFrame
    val b1 = Seq((1L, "B", "2026-02-01"), (9L, "NEW", "2026-02-01"))
    val b2 = Seq((1L, "C", "2026-03-01")) // second change to the same key
    def toUpd(rows: Seq[(Long, String, String)]): DataFrame =
      rows.toDF("k", "seg", "e")
        .select(col("k"), col("seg"), to_date(col("e")).as("eff"))
    val h0 = Seq((1L, "A", "2026-01-01"), (2L, "X", "2026-01-01"))
      .toDF("k", "seg", "f")
      .select(col("k"), col("seg"), to_date(col("f")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))

    // expected: sequential batch merges
    val expected = graft.ops.Merge.scd2Merge(
      graft.ops.Merge.scd2Merge(h0, toUpd(b1), "k", Seq("seg")),
      toUpd(b2), "k", Seq("seg"))

    // streamed: file source delivers b1 and b2 as separate micro-batches
    // (two AvailableNow passes — deterministic batch boundaries), state
    // carried in a parquet round-trip like a real lake table
    val src = Files.createTempDirectory("scdsrc").toString
    val state = Files.createTempDirectory("scdstate").resolve("t").toString
    val ckpt = Files.createTempDirectory("scdckpt").toString
    h0.write.parquet(state)
    val updSchema = toUpd(b1).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(updSchema).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val cur = batch.sparkSession.read.parquet(state)
          val merged = graft.ops.Merge.scd2Merge(cur, batch.toDF(), "k", Seq("seg"))
          // write-then-swap, as a real maintenance job would
          merged.write.mode("overwrite").parquet(state + "_next")
          batch.sparkSession.read.parquet(state + "_next")
            .write.mode("overwrite").parquet(state)
        }.start()
      q.awaitTermination(120000)
    }
    toUpd(b1).write.mode("append").parquet(src); drain()
    toUpd(b2).write.mode("append").parquet(src); drain()

    val got = spark.read.parquet(state)
      .select(col("k"), col("seg"), col("valid_from").cast("string"),
        col("valid_to").cast("string"))
      .as[(Long, String, String, String)].collect().sortBy(r => (r._1, r._3))
    val exp = expected
      .select(col("k"), col("seg"), col("valid_from").cast("string"),
        col("valid_to").cast("string"))
      .as[(Long, String, String, String)].collect().sortBy(r => (r._1, r._3))
    assert(got.sameElements(exp))
    // and the composed history is the full lineage for key 1: A→B→C
    assert(got.filter(_._1 == 1L).map(_._2).sameElements(Array("A", "B", "C")))
  }

  test("dropDuplicatesWithinWatermark: re-delivered ids dedup across micro-batches") {
    // at-least-once upstreams re-deliver events; the state-store-native
    // dedup keeps one arrival per id while the watermark BOUNDS the seen-
    // set (unbounded exact dedup state is the thing that cannot exist at
    // 100 TB — the watermark is the contract that lets it stream forever)
    val src = Files.createTempDirectory("ddwsrc").toString
    val ckpt = Files.createTempDirectory("ddwckpt").toString
    val out = Files.createTempDirectory("ddwout").resolve("rows").toString
    def events(rows: (Long, String)*) = rows.toSeq
      .map { case (id, ts) => (id, Timestamp.valueOf(ts)) }.toDF("id", "ts")
    val b1 = events(1L -> "2026-01-01 10:00:00", 2L -> "2026-01-01 10:01:00",
      3L -> "2026-01-01 10:02:00")
    val b2 = events(2L -> "2026-01-01 10:01:00", // exact re-delivery
      3L -> "2026-01-01 10:30:00", // same id, later ts — still within watermark
      4L -> "2026-01-01 10:05:00")
    def drain(): Unit = {
      val q = spark.readStream.schema(b1.schema).parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("id")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      q.awaitTermination(120000)
    }
    b1.write.mode("append").parquet(src); drain()
    b2.write.mode("append").parquet(src); drain()
    val got = spark.read.parquet(out).select(col("id").as[Long]).collect().sorted
    assert(got.sameElements(Array(1L, 2L, 3L, 4L)),
      s"one row per id expected: ${got.toSeq}")
  }

  test("streaming ingest dedup: micro-batches LSH-join the signature stage, then append to it") {
    // continuous-ingest near-dup detection — the streaming face of x26:
    // the signature STAGE is the only state; an arriving batch computes
    // its own signatures, band-joins the stage for candidates (corpus
    // text is never rescanned), emits the pairs, and appends its
    // signatures. Contract: streamed micro-batches find exactly the
    // pairs the batch-incremental flow finds applied sequentially.
    import graft.ext.Dedup
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val base = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "pack my box with five dozen liquor jugs",
      3L -> "how vexingly quick daft zebras jump")
    val b1 = docs(
      10L -> "the quick brown fox jumps over the lazy dog", // dup of 1
      11L -> "sphinx of black quartz judge my vow")
    val b2 = docs(
      20L -> "sphinx of black quartz judge my vow", // dup of 11
      21L -> "the quick brown fox jumps over the lazy dog!") // near-dup of 1/10
    val k = 8; val rpb = 2
    def sig(df: org.apache.spark.sql.DataFrame) = Dedup.minhashSignature(df, "text", k)
    def inc(s: org.apache.spark.sql.DataFrame, stage: String) =
      Dedup.lshCandidatePairsIncremental(s, stage, "doc_id", k, rpb)

    // expected: the batch-incremental flow, batch by batch
    val stageExp = Stage.write(sig(base))
    val p1 = inc(sig(b1), stageExp).as[(Long, Long)].collect().toSet
    sig(b1).write.mode("append").parquet(stageExp)
    val p2 = inc(sig(b2), stageExp).as[(Long, Long)].collect().toSet
    val expected = p1 ++ p2
    assert(expected.contains((1L, 10L)) && expected.contains((11L, 20L)))

    // streamed: the same batches as AvailableNow micro-batches
    val stage = Stage.write(sig(base))
    val src = Files.createTempDirectory("dedupsrc").toString
    val ckpt = Files.createTempDirectory("dedupckpt").toString
    val out = Files.createTempDirectory("dedupout").resolve("pairs").toString
    def drain(): Unit = {
      val q = spark.readStream.schema(base.schema).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val s = sig(batch.toDF())
          inc(s, stage).write.mode("append").parquet(out)
          s.write.mode("append").parquet(stage) // AFTER pairing (self-pair guard)
        }.start()
      q.awaitTermination(120000)
    }
    b1.write.mode("append").parquet(src); drain()
    b2.write.mode("append").parquet(src); drain()

    val streamed = spark.read.parquet(out).as[(Long, Long)].collect().toSet
    assert(streamed == expected, s"streamed $streamed vs batch $expected")
  }

  test("streaming chunk ingest: micro-batches chunk-join the signature stage, then append") {
    // continuous-ingest PARTIAL-OVERLAP detection — the streaming face of
    // x62b: the chunk-signature stage is the only state; an arriving
    // batch chunk-signatures itself, band-joins stage ∪ batch for doc
    // pairs (corpus text never rescanned), emits them, appends its chunk
    // signatures. Contract: streamed micro-batches find exactly the
    // pairs (WITH hit counts) the batch-incremental flow finds
    // sequentially.
    import graft.ext.Dedup
    def nz(seed: Int, n: Int) =
      new scala.util.Random(seed).alphanumeric.take(n).mkString
    val sharedA = nz(100, 60); val sharedB = nz(200, 60)
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val base = docs(1L -> (nz(1, 60) + sharedA), 2L -> (sharedB + nz(2, 60)),
      3L -> nz(3, 120))
    val b1 = docs(10L -> (sharedA + nz(4, 60)), 11L -> nz(5, 120))
    val b2 = docs(20L -> (nz(6, 60) + sharedB), 21L -> (sharedA + sharedB))
    def inc(batch: org.apache.spark.sql.DataFrame, stage: String) =
      Dedup.chunkNearDupPairsIncremental(batch, stage, "text", "doc_id",
        60, 4, 2)
    def csig(df: org.apache.spark.sql.DataFrame) =
      Dedup.chunkSignatures(df, "text", "doc_id", 60, 4)

    val stageExp = Stage.write(csig(base))
    val p1 = inc(b1, stageExp).as[(Long, Long, Long)].collect().toSet
    csig(b1).write.mode("append").parquet(stageExp)
    val p2 = inc(b2, stageExp).as[(Long, Long, Long)].collect().toSet
    val expected = p1 ++ p2
    assert(expected.exists(p => p._1 == 1L && p._2 == 10L), expected.toString)
    assert(expected.exists(p => p._1 == 10L && p._2 == 21L),
      s"cross-batch pair via the staged b1 chunk: $expected")

    val stage = Stage.write(csig(base))
    val src = Files.createTempDirectory("chunksrc").toString
    val ckpt = Files.createTempDirectory("chunkckpt").toString
    val out = Files.createTempDirectory("chunkout").resolve("pairs").toString
    def drain(): Unit = {
      val q = spark.readStream.schema(base.schema).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          inc(batch.toDF(), stage).write.mode("append").parquet(out)
          csig(batch.toDF()).write.mode("append").parquet(stage) // AFTER pairing
        }.start()
      q.awaitTermination(120000)
    }
    b1.write.mode("append").parquet(src); drain()
    b2.write.mode("append").parquet(src); drain()

    val streamed = spark.read.parquet(out).as[(Long, Long, Long)].collect().toSet
    assert(streamed == expected, s"streamed $streamed vs batch $expected")
  }

  test("streaming corpus ingest keeps the dataset card current: staged ≡ one-shot") {
    // the reporting face of the append-only family (x51b): each arriving
    // micro-batch appends its O(distinct-texts) card state; the card is
    // answered from the stage alone and must equal the one-shot card over
    // everything ingested — cross-batch duplicate texts included (they
    // collide on the content digest whichever micro-batch delivered them).
    import graft.ext.Curation
    def docs(rows: (Long, String, String, String)*) =
      rows.toSeq.toDF("doc_id", "text", "lang", "source")
    val b1 = docs((1L, "a b c", "en", "s1"), (2L, "x y", "de", "s2"))
    val b2 = docs((3L, "a b c", "en", "s2"), // dup of 1, other dims, later batch
      (4L, null.asInstanceOf[String], "de", "s1"))
    val stage = Files.createTempDirectory("cardstage").resolve("card").toString
    val src = Files.createTempDirectory("cardsrc").toString
    val ckpt = Files.createTempDirectory("cardckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.schema(b1.schema).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Curation.appendCardBatch(batch.toDF(), "text",
            Seq("source", "lang"), stage)
        }.start()
      q.awaitTermination(120000)
    }
    b1.write.mode("append").parquet(src); drain()
    b2.write.mode("append").parquet(src); drain()
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.getString(0)), Option(r.getString(1)))
    def vals(r: org.apache.spark.sql.Row) = (2 to 7).map(r.getLong).toSeq
    val streamed = Curation.datasetCardFromStaged(spark, stage,
      Seq("source", "lang")).collect().map(r => key(r) -> vals(r)).toMap
    val oneShot = Curation.datasetCard(b1.unionByName(b2), "text",
      Seq("source", "lang")).collect().map(r => key(r) -> vals(r)).toMap
    assert(streamed == oneShot, s"streamed $streamed vs one-shot $oneShot")
    assert(streamed((None, None))(3) == 2L, // the cross-batch pair is dup
      streamed((None, None)))
  }

  test("card stage replay-idempotence: re-delivered batches overwrite their own state") {
    // crash BETWEEN the stage write and the checkpoint commit re-delivers
    // the micro-batch; the per-batch-subdir overwrite form must absorb the
    // replay (a bare append would double-count every metric)
    import graft.ext.Curation
    val docs = Seq(
      (1L, "a b c", "en", "s1"), (2L, "a b c", "en", "s1"),
      (3L, "x y", "de", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val stage = Files.createTempDirectory("cardi").resolve("card").toString
    val src = Files.createTempDirectory("cardisrc").toString
    val ckpt = Files.createTempDirectory("cardickpt").toString
    docs.write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          Curation.appendCardBatch(batch.toDF(), "text",
            Seq("source", "lang"), s"$stage/batch=$id", overwrite = true)
        }.start()
      q.awaitTermination(120000)
    }
    drain()
    def card() = Curation.datasetCardFromStaged(spark, stage,
      Seq("source", "lang")).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        (2 to 7).map(r.getLong).toSeq).toMap
    val first = card()
    assert(first == Curation.datasetCard(docs, "text", Seq("source", "lang"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        (2 to 7).map(r.getLong).toSeq).toMap)
    // simulate the replay: wipe the checkpoint so the same files re-deliver
    // with the same batch id — the overwrite absorbs it
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(ckpt))
    drain()
    assert(card() == first, "replayed batch must not double-count")
  }

  test("streaming embedding ingest: micro-batches assign against staged centroids, pair, append") {
    // continuous-ingest SEMANTIC dedup — the embedding face of the LSH
    // ingest test above (x26 mold): the assigned-corpus stage is the only
    // state; an arriving batch runs ivfAssignJoin against the STAGED
    // centroids, pairs within cells against the stage (new side
    // broadcast), emits (a_id, b_id, cos), and appends its assigned rows.
    // Contracts pinned here: streamed micro-batches ≡ the sequential
    // batch-incremental flow ≡ the ONE-SHOT batch pairing of the final
    // corpus (cross-batch union of base-base + incremental pairs), all
    // bit-for-bit (exact Q30 cosines).
    import graft.ext.{Dedup, Similarity}
    def emb(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    val centroids = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("cid", "cvec")
    val base = emb(1L -> Seq(1f, 0.01f), 2L -> Seq(0.99f, 0.05f),
      3L -> Seq(0.01f, 1f))
    val b1 = emb(10L -> Seq(0.98f, 0.02f), 11L -> Seq(0.02f, 0.97f))
    val b2 = emb(20L -> Seq(0.97f, 0.03f))
    val minCos = 0.9
    def assign(df: org.apache.spark.sql.DataFrame) =
      Similarity.semDedupAssign(df, centroids, "vec_id", "embedding")
    def inc(df: org.apache.spark.sql.DataFrame, stage: String) =
      Similarity.semDedupPairsIncremental(df, stage, centroids,
        "vec_id", "embedding", minCos)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet

    // expected: the batch-incremental flow, batch by batch
    val stageExp = Stage.write(assign(base))
    val p1 = pairSet(inc(b1, stageExp))
    // the no-broadcast fallback (backfill batches too big to broadcast)
    // must find the identical pair set
    assert(pairSet(Similarity.semDedupPairsIncremental(b1, stageExp, centroids,
      "vec_id", "embedding", minCos, broadcastNew = false)) == p1)
    assign(b1).write.mode("append").parquet(stageExp)
    val p2 = pairSet(inc(b2, stageExp))
    val expected = p1 ++ p2
    assert(p1.map(p => (p._1, p._2)) == Set((1L, 10L), (2L, 10L), (3L, 11L)), p1)
    assert(p2.map(p => (p._1, p._2)) == Set((1L, 20L), (2L, 20L), (10L, 20L)), p2)

    // one-shot batch pairing of the FINAL corpus over an empty stage must
    // equal base-base pairs ∪ the incremental pairs — incremental ≡ batch
    val emptyStage = Stage.write(assign(base.limit(0)))
    val fullPairs = pairSet(inc(base.unionByName(b1).unionByName(b2), emptyStage))
    val basePairs = pairSet(inc(base, emptyStage))
    assert(fullPairs == basePairs ++ expected,
      s"one-shot $fullPairs vs composed ${basePairs ++ expected}")

    // streamed: the same batches as AvailableNow micro-batches
    val stage = Stage.write(assign(base))
    val src = Files.createTempDirectory("embsrc").toString
    val ckpt = Files.createTempDirectory("embckpt").toString
    val out = Files.createTempDirectory("embout").resolve("pairs").toString
    def drain(): Unit = {
      val q = spark.readStream.schema(b1.schema).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          inc(batch.toDF(), stage).write.mode("append").parquet(out)
          assign(batch.toDF()).write.mode("append").parquet(stage) // AFTER pairing
        }.start()
      q.awaitTermination(120000)
    }
    b1.write.mode("append").parquet(src); drain()
    b2.write.mode("append").parquet(src); drain()

    val streamed = pairSet(spark.read.parquet(out))
    assert(streamed == expected, s"streamed $streamed vs batch $expected")
  }

  test("streaming span ingest: micro-batch repeated-span stats against a staged corpus ≡ batch") {
    // the ExactSubstr face of the x26 mold: the span-digest stage is the
    // only state; an arriving batch counts its windows' occurrences across
    // corpus ∪ batch (corpus filtered map-side by the broadcast batch
    // digests — no text rescan, no text-keyed shuffle of the stage),
    // appends its own digests after. Pinned: incremental ≡ one-shot batch
    // stats over the final corpus restricted to the batch ids, broadcast
    // and no-broadcast forms identical, streamed micro-batches ≡ both.
    import graft.ext.Dedup
    val base = Seq(
      (1L, "a b c d e f"),
      (2L, "p q r s t u")).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "a b c d e x"),          // repeats base's [a b c d e]
      (11L, "fresh tokens only here j k")).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "p q r s t u"),          // repeats base doc 2 entirely (2 windows)
      (21L, "a b c d e y"),          // window 0 repeats the STAGE, window 1 repeats doc 22 (new-new)
      (22L, "b c d e y z")).toDF("doc_id", "text") // window 0 = doc 21's window 1; window 1 fresh
    def statSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSet
    def inc(df: org.apache.spark.sql.DataFrame, stage: String, bc: Boolean = true) =
      Dedup.repeatedSpanStatsIncremental(df, stage, "text", "doc_id", 5,
        broadcastNew = bc)

    val stage = Stage.write(Dedup.spanHashes(base, "text", "doc_id", 5))
    val s1 = statSet(inc(b1, stage))
    assert(statSet(inc(b1, stage, bc = false)) == s1, "no-broadcast parity")
    assert(s1 == Set((10L, 2L, 1L, 0.5), (11L, 2L, 0L, 0.0)), s1)
    Dedup.spanHashes(b1, "text", "doc_id", 5).write.mode("append").parquet(stage)
    val s2 = statSet(inc(b2, stage))
    assert(s2 == Set((20L, 2L, 2L, 1.0), (21L, 2L, 2L, 1.0),
      (22L, 2L, 1L, 0.5)), s2)
    // incremental ≡ one-shot batch over the final corpus, restricted to
    // the batch ids (doc 21 mixes a stage repeat with a NEW-NEW repeat
    // against doc 22 — both count)
    val full = Dedup.repeatedSpanStats(
      base.unionByName(b1).unionByName(b2), "text", "doc_id", 5)
      .filter(col("doc_id") >= 20L)
    assert(statSet(full) == s2, s"one-shot ${statSet(full)} vs incremental $s2")

    // streamed: same batches as AvailableNow micro-batches
    val src = Files.createTempDirectory("spansrc").toString
    val ckpt = Files.createTempDirectory("spanckpt").toString
    val out = Files.createTempDirectory("spanout").resolve("stats").toString
    val stage2 = Stage.write(Dedup.spanHashes(base, "text", "doc_id", 5))
    def drain(): Unit = {
      val q = spark.readStream.schema(b1.schema).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          inc(batch.toDF(), stage2).write.mode("append").parquet(out)
          Dedup.spanHashes(batch.toDF(), "text", "doc_id", 5)
            .write.mode("append").parquet(stage2) // AFTER the stats pass
        }.start()
      q.awaitTermination(120000)
    }
    b1.write.mode("append").parquet(src); drain()
    b2.write.mode("append").parquet(src); drain()
    assert(statSet(spark.read.parquet(out)) == s1 ++ s2,
      s"streamed ${statSet(spark.read.parquet(out))} vs ${s1 ++ s2}")
  }

  test("streaming index ingest: micro-batches append the BM25 stage ≡ one-shot index") {
    // the retrieval face of the x26 mold: document micro-batches append
    // bucket-partitioned postings + a stats row each (nothing global
    // rewrites — df and avgdl are probe-time recoveries), and the staged
    // probe over the drained stream must be bit-identical to the batch
    // scorer over the full corpus.
    import graft.ext.Retrieval
    val b1 = Seq((1L, "spark shuffle join"), (2L, "spark broadcast join"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "broadcast variable lore"), (4L, "unrelated words"))
      .toDF("doc_id", "text")
    val src = Files.createTempDirectory("bm25src").toString
    val ckpt = Files.createTempDirectory("bm25ckpt").toString
    val stage = Files.createTempDirectory("bm25stage").toString
    def drain(): Unit = {
      val q = spark.readStream.schema(b1.schema).parquet(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Retrieval.appendIndexBatch(batch.toDF(), "text", "doc_id", stage)
        }.start()
      q.awaitTermination(120000)
    }
    b1.write.mode("append").parquet(src); drain()
    b2.write.mode("append").parquet(src); drain()
    val qs = Seq(1L -> "spark broadcast", 2L -> "lore")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "doc_id", "score_q20")
        .as[(Long, Long, Long)].collect().toSet
    assert(rows(Retrieval.bm25TopKStaged(stage, qs, 4)) ==
      rows(Retrieval.bm25TopK(b1.unionAll(b2), "text", "doc_id", qs, 4)))
  }

  test("upsert sink exactly-once survives a crash BETWEEN sink write and checkpoint commit") {
    val src = Files.createTempDirectory("csrc").toString
    val sink = Files.createTempDirectory("csink").toString
    val ckpt = Files.createTempDirectory("cckpt").toString
    mkEvents.write.mode("overwrite").parquet(src)
    // fault injection: the sink write SUCCEEDS, then the batch throws
    // before foreachBatch returns — so the data landed but the checkpoint
    // never committed the batch: the crash window that breaks naive sinks
    @volatile var armed = true
    def run(): Unit = {
      val q = EventStreams.fileSource(spark, src, mkEvents.schema)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          EventStreams.upsertBatch(b, id, sink) // the real sink body
          if (armed) { armed = false; throw new RuntimeException("injected crash") }
        }
        .start()
      try q.awaitTermination(120000)
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }
    run() // crashes after writing batch 0, before its commit
    assert(spark.read.parquet(sink).count() == 4, "data landed before the crash")
    // restart with the SAME checkpoint: batch 0 re-delivers under the same
    // batch id and dynamic partition overwrite rewrites — never duplicates
    run()
    val out = spark.read.parquet(sink)
    assert(out.count() == 4, "replayed batch must overwrite, not append")
    assert(out.select("_batch_id").distinct().count() == 1)
    assert(out.select("event_id").as[Long].collect().sorted
      .sameElements(mkEvents.select("event_id").as[Long].collect().sorted))
  }

  test("transformWithState running totals accumulate across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Double)]
      val q = EventStreams.runningTotals(mem.toDS())
        .writeStream.format("memory").queryName("totals")
        .outputMode("update").start()
      mem.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
      q.processAllAvailable()
      mem.addData((1L, 5.0)) // second micro-batch: state must carry over
      q.processAllAvailable()
      q.stop()
      // memory sink in update mode appends each emission; the LAST row
      // per user is the accumulated total
      val last = spark.table("totals").as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
      assert(last(1L) == ((1L, 3L, 10.0))) // 2+3 then +5 across batches
      assert(last(2L) == ((2L, 1L, 10.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionize accumulates per-user state across a micro-batch") {
    val sessions = EventStreams.sessionize(
      mkEvents.select(col("user_id"), col("value")).as[(Long, Double)])
    // run as a batch Dataset transformation is not allowed; use memory stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    mem.addData((10L, 1.5), (10L, 2.5), (11L, 4.0))
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").trigger(Trigger.Once()).start()
    q.awaitTermination(120000)
    val rows = spark.table("sessions")
      .select("userId", "nEvents", "totalValue").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(rows.sameElements(Array((10L, 2L, 4.0), (11L, 1L, 4.0))))
  }
}
