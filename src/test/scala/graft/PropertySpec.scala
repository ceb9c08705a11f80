package graft

import graft.ops.Projections
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based round-trips (SURVEY.md §5.3). Uses ScalaCheck
  * generators with explicit sampling (one DataFrame per property batch,
  * not per sample — Spark jobs are the expensive unit). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val token = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  test("P11/P12: pack(parse(s)) == s for any packed map") {
    val packedGen = Gen.nonEmptyListOf(Gen.zip(token, token))
      .map(_.take(8).map { case (k, v) => s"$k=$v" }.mkString("|"))
    val samples = Gen.listOfN(60, packedGen).sample.get.distinct
    val out = samples.toDF("packed")
      .select(col("packed"),
        Projections.packMap(Projections.parsePackedMap(col("packed"))).as("rt"))
      .as[(String, String)].collect()
    out.foreach { case (orig, rt) =>
      // duplicate keys collapse (last wins) — compare via parsed form
      val canonical = orig.split("\\|").map(_.split("=", 2))
        .map(a => a(0) -> a(1)).toMap
      val rtMap = rt.split("\\|").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      assert(rtMap == canonical, s"$orig -> $rt")
    }
  }

  test("P1/P2/P3: accession split/rebuild round-trips") {
    val accGen = for {
      n <- Gen.chooseNum(1, 999999)
      v <- Gen.chooseNum(1, 99)
      c <- Gen.option(Gen.chooseNum(1, 9))
    } yield (f"phs$n%06d", s"v$v", c.map(i => s"c$i"))
    val samples = Gen.listOfN(80, accGen).sample.get.distinct
    val df = samples.map { case (p, v, c) =>
      (p, v, c.getOrElse(""), p + "." + v + c.map("." + _).getOrElse(""))
    }.toDF("phs", "ver", "consent", "acc")
    val out = df.select(
      col("phs"), col("ver"), col("consent"),
      Projections.splitPart(col("acc"), ".", 1).as("phs2"),
      Projections.splitTokenOrDefault(col("acc"), "\\.", 1, "v1").as("ver2"),
      Projections.regexGroup(col("acc"), "^(phs\\d+\\.v\\d+)(?:\\.(c\\d+))?$", 2).as("c2"))
      .collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(3))
      assert(r.getString(1) == r.getString(4))
      assert(r.getString(2) == r.getString(5))
    }
  }

  test("line dedup: survivors' corpus counts <= ceiling; reassembly is an ordered subsequence") {
    val lineGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "BOILER",
      "BOILER", "BOILER", "epsilon") // skewed so the ceiling genuinely fires
    val docGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, lineGen).map(_.mkString("\n")))
    val docs = Gen.listOfN(30, docGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val out = graft.ext.Dedup.dedupLinesAcrossCorpus(df, "text", "doc_id", 2)
      .as[(Long, String, Long)].collect()
    val corpusCounts = docs.flatMap(_._2.split("\n")).groupBy(identity)
      .view.mapValues(_.size).toMap
    val byId = docs.toMap
    out.foreach { case (id, text, nKept) =>
      val kept = text.split("\n").toSeq
      assert(kept.size == nKept)
      kept.foreach(l => assert(corpusCounts(l) <= 2, s"doc $id kept over-ceiling line '$l'"))
      // order preserved: kept lines are a subsequence of the original
      val orig = byId(id).split("\n").toSeq
      val it = orig.iterator
      assert(kept.forall(l => it.contains(l)), s"doc $id reordered lines")
      // and exactly the original's under-ceiling lines survive
      assert(kept == orig.filter(corpusCounts(_) <= 2))
    }
    // every doc with at least one under-ceiling line is present
    val expectedIds = docs.filter(_._2.split("\n").exists(corpusCounts(_) <= 2))
      .map(_._1).toSet
    assert(out.map(_._1).toSet == expectedIds)
  }

  test("chunkByTokens: windows reconstruct the token stream at every (window, stride)") {
    val tokGen = Gen.oneOf("t1", "t2", "t3", "aa", "bb")
    val docGen = Gen.chooseNum(1, 25).flatMap(n =>
      Gen.listOfN(n, tokGen).map(_.mkString(" ")))
    val docs = Gen.listOfN(20, docGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    for ((window, stride) <- Seq((4, 4), (4, 3), (6, 2), (1, 1))) {
      val out = graft.ext.Curation.chunkByTokens(df, "text", "doc_id",
          window, stride)
        .as[(Long, Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      docs.foreach { case (id, t) =>
        val toks = t.split("\\s+").toSeq
        val chunks = out(id)
        // chunk ids are 0..k-1 dense; starts cover the stream by stride
        assert(chunks.map(_._2).toSeq == chunks.indices.map(_.toLong))
        chunks.foreach { case (_, cid, nTok, text) =>
          val s = (cid * stride).toInt
          val want = toks.slice(s, s + window)
          assert(text == want.mkString(" "), s"doc $id chunk $cid")
          assert(nTok == want.size)
        }
        // stride <= window ⇒ every token index falls in some window
        val covered = chunks.flatMap { case (_, cid, nTok, _) =>
          (cid * stride) until (cid * stride + nTok) }.toSet
        assert(covered == toks.indices.map(_.toLong).toSet, s"doc $id gaps")
        // non-overlapping case reconstructs the exact stream
        if (window == stride)
          assert(chunks.map(_._4).mkString(" ") == toks.mkString(" "))
      }
    }
  }

  test("incremental LSH == full-corpus pairs touching the batch, for random corpora") {
    val word = Gen.oneOf("spark", "scan", "merge", "hash", "sort", "row")
    val textGen = Gen.listOfN(12, word).map(_.mkString(" "))
    val docs = Gen.listOfN(24, textGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val sigAll = graft.ext.Dedup.minhashSignature(df, "text", 8)
    val newIds = docs.map(_._1).filter(_ % 3 == 0).toSet
    val stage = graft.stage.Stage.write(
      sigAll.filter(!col("doc_id").isin(newIds.toSeq: _*)))
    val inc = graft.ext.Dedup.lshCandidatePairsIncremental(
      sigAll.filter(col("doc_id").isin(newIds.toSeq: _*)), stage, "doc_id", 8, 2)
      .as[(Long, Long)].collect().toSet
    val full = graft.ext.Dedup.lshCandidatePairs(sigAll, "doc_id", 8, 2)
      .as[(Long, Long)].collect().toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    assert(inc == full)
  }

  test("native md5 minhash == SQL formulation for arbitrary text incl. non-BMP") {
    // independent code-point-windowed reference of
    // min(substr(md5(substr(text,i,L)),8w+1,8))
    def ref(text: String, k: Int, l: Int): Seq[String] = {
      val cps = text.codePoints().toArray
      val n = cps.length
      val starts = if (n < l) Seq(0) else 0 to (n - l)
      val mins = Array.fill(k)("~" * 8)
      for (st <- starts; g <- 0 until (k + 3) / 4) {
        val sh = new String(cps, st, math.min(st + l, n) - st)
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(((if (g == 0) "" else g.toString) + sh).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        for (w <- 0 until 4; i = g * 4 + w; if i < k) {
          val sub = hex.substring(8 * w, 8 * w + 8)
          if (sub < mins(i)) mins(i) = sub
        }
      }
      mins.toSeq
    }
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "\t", "ä", "é", "中", "ß"),
      2 -> Gen.oneOf("😀", "🤖", "𝕊", "👍"), // surrogate pairs
      1 -> Gen.oneOf(".", ",", "'", "\""))
    val textGen = Gen.chooseNum(0, 24)
      .flatMap(len => Gen.listOfN(len, charGen).map(_.mkString))
    val samples = Gen.listOfN(50, textGen).sample.get.distinct.filter(_.nonEmpty)
    val got = graft.ext.Dedup.minhashSignature(
        samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "text", 8)
      .orderBy("doc_id").collect()
      .map(r => (1 to 8).map(j => r.getAs[String](s"h$j")))
    samples.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == ref(t, 8, 5), s"text='$t'")
    }
  }

  test("py_literal_list parses Python repr of arbitrary string lists") {
    // canonical Python single-quoted repr (the escapes eval would see)
    def pyRepr(v: String): String =
      "'" + v.flatMap {
        case '\\' => "\\\\"
        case '\'' => "\\'"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c    => c.toString
      } + "'"
    val strGen = Gen.chooseNum(0, 12).flatMap(len => Gen.listOfN(len,
      Gen.frequency(
        6 -> Gen.alphaNumChar,
        1 -> Gen.oneOf('\\', '\'', '"', '\n', '\t', '\r'),
        1 -> Gen.oneOf(' ', ',', '[', ']', '#', 'é', '中'))).map(_.mkString))
    val listGen = Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, strGen))
    val samples = Gen.listOfN(60, listGen).sample.get
    val df = samples.zipWithIndex
      .map { case (l, i) => (i, l.map(pyRepr).mkString("[", ", ", "]")) }
      .toDF("i", "v")
    val out = df.orderBy("i")
      .select(Projections.parsePyLiteralList(col("v")))
      .as[Option[Seq[String]]].collect()
    samples.zipWithIndex.foreach { case (l, i) =>
      assert(out(i).contains(l), s"repr=${l.map(pyRepr).mkString("[", ", ", "]")}")
    }
  }

  test("mediaStats replays the generator formulas for random pattern blobs") {
    // random (w, h, seed) rasters and (n, seed) PCM chunks through the
    // REAL decoders must equal the closed-form moments computed here
    // independently; random truncations must quarantine under the
    // sniffed kind
    import graft.ext.Multimodal
    val imgGen = Gen.zip(Gen.chooseNum(1, 24), Gen.chooseNum(1, 12),
      Gen.chooseNum(0L, 1L << 40), Gen.oneOf(true, false))
    val audGen = Gen.zip(Gen.chooseNum(0L, 80L), Gen.chooseNum(0L, 1L << 40),
      Gen.oneOf(true, false))
    val imgs = Gen.listOfN(25, imgGen).sample.get.zipWithIndex
      .map { case ((w, h, s0, cut), i) => (i.toLong * 2, w, h, s0, cut) }
    val auds = Gen.listOfN(25, audGen).sample.get.zipWithIndex
      .map { case ((n, s0, cut), i) => (i.toLong * 2 + 1, n, s0, cut) }
    val imgDf = imgs.toDF("id", "w", "h", "seed", "cut")
      .withColumn("_n", (col("w") * col("h")).cast("long"))
      .withColumn("b", Multimodal.pnmPatternBlob(col("w"), col("h"),
        col("seed"), when(col("cut"), col("_n") - 1).otherwise(col("_n"))))
      .select(col("id"), col("b"))
    val audDf = auds.toDF("id", "n", "seed", "cut")
      .withColumn("b", Multimodal.wavPatternBlob(lit(8000), lit(1),
        col("seed"), col("n"),
        when(col("cut") && col("n") > 0, col("n") * 2 - 1)
          .otherwise(col("n") * 2)))
      .select(col("id"), col("b"))
    val got = Multimodal.mediaStats(
        Multimodal.asMedia(imgDf.union(audDf), "id", "b", "mixed"))
      .collect().map(m => m.mediaId -> m).toMap
    imgs.foreach { case (id, w, h, s0, cut) =>
      val m = got(id)
      if (cut && w * h > 0) assert(m == Multimodal.MediaStats(
        id, "image", 0L, 0L, 0L, 0L, ok = false), m.toString)
      else {
        val px = (0 until w * h).map(i => (s0 + i) % 256)
        assert(m == Multimodal.MediaStats(id, "image", px.size.toLong,
          px.sum, px.min, px.max, ok = true), s"($w,$h,$s0): $m")
      }
    }
    auds.foreach { case (id, n, s0, cut) =>
      val m = got(id)
      if (cut && n > 0) assert(m == Multimodal.MediaStats(
        id, "audio", 0L, 0L, 0L, 0L, ok = false), m.toString)
      else {
        val sm = (0L until n).map { i =>
          val u = (s0 + i) % 65536
          if (u < 32768) u else u - 65536
        }
        val (mn, mx) = if (n == 0) (32767L, -32768L) else (sm.min, sm.max)
        assert(m == Multimodal.MediaStats(id, "audio", n, sm.sum, mn, mx,
          ok = true), s"($n,$s0): $m")
      }
    }
  }

  test("zOrderValue interleaves losslessly: deinterleaving recovers both keys") {
    // the locality claims only mean anything if the Morton code preserves
    // ALL information of both 21-bit keys — prove invertibility on random
    // pairs across the full domain, including the boundaries
    val keyGen = Gen.chooseNum(0L, (1L << 21) - 1)
    val pairs = (Gen.listOfN(200, Gen.zip(keyGen, keyGen)).sample.get ++
      Seq((0L, 0L), (0L, (1L << 21) - 1), ((1L << 21) - 1, 0L),
        ((1L << 21) - 1, (1L << 21) - 1))).distinct
    val z = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.ops.Scale.zOrderValue(col("a"), col("b")).as("z"))
      .as[(Long, Long, Long)].collect()
    def deinterleave(z: Long, offset: Int): Long =
      (0 until 21).foldLeft(0L)((acc, i) => acc | (((z >> (2 * i + offset)) & 1L) << i))
    z.foreach { case (a, b, zv) =>
      assert(deinterleave(zv, 0) == a && deinterleave(zv, 1) == b,
        s"($a, $b) -> $zv failed to round-trip")
    }
  }

  test("SCD2 merge invariants hold for random update batches") {
    import graft.ops.Merge
    // random initial open set + two random update batches with increasing
    // effective dates; invariants that define SCD2 correctness:
    //  (1) exactly one OPEN row per live key;
    //  (2) per key, validity intervals chain without overlap (each close
    //      date equals the next version's open date);
    //  (3) re-applying the same batch is a no-op (idempotence).
    val keys = (1L to 40L)
    val segGen = Gen.oneOf("A", "B", "C", "D")
    def batch(eff: String, p: Double): Seq[(Long, String, String)] =
      keys.flatMap { k =>
        val pick = Gen.prob(p).sample.getOrElse(false)
        if (pick) Some((k + (if (k % 7 == 0) 1000L else 0L), // some new keys
          segGen.sample.getOrElse("A"), eff))
        else None
      }
    val h0 = keys.map(k => (k, "A", "2026-01-01")).toDF("k", "seg", "f")
      .select(col("k"), col("seg"), to_date(col("f")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
    def toUpd(rows: Seq[(Long, String, String)]) =
      rows.toDF("k", "seg", "e")
        .select(col("k"), col("seg"), to_date(col("e")).as("eff"))
    val b1 = batch("2026-02-01", 0.5)
    val b2 = batch("2026-03-01", 0.5)
    val m1 = graft.ops.Merge.scd2Merge(h0, toUpd(b1), "k", Seq("seg"))
    val m2 = Merge.scd2Merge(m1, toUpd(b2), "k", Seq("seg"))

    // (1) exactly one open row per key present
    val openDup = m2.filter(col("valid_to").isNull)
      .groupBy("k").count().filter(col("count") > 1).count()
    assert(openDup == 0)
    // (2) intervals chain: close date == next open date, no overlaps
    val rows = m2.select(col("k"), col("valid_from").cast("string"),
      col("valid_to").cast("string")).as[(Long, String, String)]
      .collect().groupBy(_._1)
    rows.foreach { case (k, vs) =>
      val sorted = vs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, t1), (_, f2, _)) =>
          assert(t1 != null && t1 == f2, s"key $k: gap/overlap $sorted")
        case _ => ()
      }
      assert(sorted.last._3 == null, s"key $k has no open row")
    }
    // (3) idempotence: re-applying b2 changes nothing
    val m2again = Merge.scd2Merge(m2, toUpd(b2), "k", Seq("seg"))
    assert(m2again.exceptAll(m2).isEmpty && m2.exceptAll(m2again).isEmpty)
    // and snapshotDiff of (m1-open vs m2-open) reconstructs b2's effect
    val openOf = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("valid_to").isNull).select("k", "seg")
    val diff = Merge.snapshotDiff(openOf(m1), openOf(m2), "k", Seq("seg"))
    // every diff row's key must be in b2 (the only change driver)
    val b2keys = b2.map(_._1).toSet
    val diffKeys = diff.select("k").as[Long].collect().toSet
    assert(diffKeys.subsetOf(b2keys), s"${diffKeys -- b2keys}")

    // (4) validate mode accepts every monotone-eff batch the generator
    // produces (chained merges stay clean under enforcement)...
    val v1 = Merge.scd2Merge(h0, toUpd(b1), "k", Seq("seg"), validate = true)
    Merge.scd2Merge(v1, toUpd(b2), "k", Seq("seg"), validate = true).count()
    // ...and pins the out-of-order semantics: ANY batch carrying one eff
    // before an open row's valid_from is rejected, not silently merged
    val idx = b1.indexWhere(_._1 <= 40L) // a key with an open row in h0
    if (idx >= 0) {
      val poisoned = b1.updated(idx, (b1(idx)._1, b1(idx)._2, "2025-06-01"))
      val e = intercept[Exception] {
        Merge.scd2Merge(h0, toUpd(poisoned), "k", Seq("seg"), validate = true).count()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("out-of-order eff"), msgs)
    }
  }

  test("pagination source: exactly-once ids for arbitrary page sizes") {
    import graft.sources.rest.{PageFetcher, PageFetchers}
    val cases = Gen.listOfN(12, Gen.zip(Gen.chooseNum(1, 25), Gen.chooseNum(0, 60)))
      .sample.get.distinct :+ ((1, 0)) :+ ((25, 1)) :+ ((10, 10))
    cases.foreach { case (pageSize, total) =>
      val name = s"prop_${pageSize}_$total"
      PageFetchers.register(name, new PageFetcher {
        override def totalRows: Int = total
        override def fetch(offset: Int, limit: Int): Seq[String] =
          (offset until math.min(offset + limit, total)).map(_.toString)
      })
      val got = spark.read.format("rest-pages")
        .option("fetcher", name).option("pagesize", pageSize.toString).load()
        .select("payload").as[String].collect().map(_.toInt).sorted
      assert(got.sameElements(0 until total), s"page=$pageSize total=$total")
    }
  }

  test("BPE: encoding is lossless — replacing sep with space recovers the normalized corpus") {
    // the tokenizer's invertibility guarantee: merges only ever JOIN
    // adjacent tokens with the sep byte, so un-joining every sep must
    // reproduce bpeNormalize(text) exactly, for ANY corpus and ANY number
    // of training rounds — and segment sizes shrink by exactly the merge
    // mass. Random corpora over a tiny alphabet force heavy merging
    // (overlaps, repeated pairs, self-pairs a a).
    import graft.ext.TextStats
    val word = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.take(2).mkString)
    val doc = for {
      n <- Gen.chooseNum(1, 12)
      ws <- Gen.listOfN(n, word)
      pad <- Gen.oneOf("", "  ", "\t")
    } yield ws.mkString(" ") + pad
    val docs = Gen.listOfN(40, doc).sample.get
    val df = docs.toDF("text")
    val merges = TextStats.bpeTrain(df, "text", 5)
    assert(merges.nonEmpty, "tiny alphabet must produce mergeable pairs")
    val out = df.select(
        TextStats.bpeNormalize(col("text")).as("norm"),
        TextStats.bpeEncode(col("text"), merges).as("enc"))
      .as[(String, String)].collect()
    out.foreach { case (norm, enc) =>
      assert(enc.replace("\u0001", " ") == norm, s"'$norm' -> '$enc'")
    }
    // token-mass bookkeeping: each round REPLACES its greedy
    // non-overlapping occurrences, while the recorded n counts ALL
    // adjacent pairs (overlaps included — the BPE statistic), so the
    // reduction is bounded by the merge mass and strictly positive
    val before = df.select(sum(TextStats.tokenCount(col("text"))).cast("long")).as[Long].head()
    val after = df.select(sum(size(TextStats.bpeSegment(col("text"), merges)))
      .cast("long")).as[Long].head()
    assert(after >= before - merges.map(_.n).sum && after < before,
      s"$before -> $after / $merges")
  }

  test("charify is code-point safe: astral text never splits into lone surrogates") {
    import graft.ext.TextStats
    // generators draw from BMP letters, astral singles (musical symbol,
    // emoji, CJK ext-B), and combining marks — the x68 charification
    // must emit whole code points only, match a driver-side code-point
    // replay exactly, and round-trip to the normalized text
    val astral = Gen.oneOf("𝄞", "😀", "𪘀",
      "a", "b", "é", "é", "字")
    val word = Gen.nonEmptyListOf(astral).map(_.take(4).mkString)
    val doc = for {
      n <- Gen.chooseNum(1, 8)
      ws <- Gen.listOfN(n, word)
      pad <- Gen.oneOf("", " ", "\t\n")
    } yield pad + ws.mkString(" ")
    val docs = Gen.listOfN(30, doc).sample.get
    def replay(s: String): String = // the contract, per CODE POINT
      s.trim.replaceAll("\\s+", " ").replace(' ', '¤')
        .codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
        .mkString(" ")
    val got = docs.toDF("text")
      .select(col("text"), TextStats.charify(col("text")).as("c"))
      .as[(String, String)].collect()
    got.foreach { case (text, c) =>
      assert(c == replay(text), s"'$text': '$c' vs '${replay(text)}'")
      c.split(" ").filter(_.nonEmpty).foreach { tok =>
        assert(tok.codePoints().count() == 1, s"multi-codepoint token '$tok'")
        assert(!tok.exists(ch => Character.isSurrogate(ch) && tok.length == 1),
          s"lone surrogate in '$text'")
      }
      // round-trip: un-spacing the chars and restoring boundaries
      // recovers the normalized text
      assert(c.split(" ").mkString.replace('¤', ' ')
        == text.trim.replaceAll("\\s+", " "), s"round-trip of '$text'")
    }
    // and the trainer consumes the astral stream whole: every learned
    // merge side is a well-formed code-point sequence
    val merges = TextStats.bpeTrain(
      docs.toDF("text").select(TextStats.charify(col("text")).as("ctext")),
      "ctext", 3)
    merges.foreach { m =>
      Seq(m.a, m.b).foreach { s =>
        var i = 0
        while (i < s.length) {
          val ch = s.charAt(i)
          if (Character.isHighSurrogate(ch)) {
            assert(i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1)),
              s"dangling high surrogate in merge '$s'")
            i += 2 // a well-formed pair consumes BOTH halves
          } else {
            assert(!Character.isLowSurrogate(ch),
              s"dangling low surrogate in merge '$s'")
            i += 1
          }
        }
      }
    }
  }

  test("exciseRepeatedSpans: token accounting, subsequence, pass-through, determinism") {
    import graft.ext.{Dedup, TextStats}
    // tiny alphabet forces heavy span repetition (incl. overlapping and
    // within-doc repeats); k=3 keeps windows likely
    val word = Gen.oneOf("aa", "b", "cc", "d")
    val doc = for {
      n <- Gen.chooseNum(1, 10)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val docs = Gen.listOfN(30, doc).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextStats.wsTrim(col("text")).as("norm"))
      .join(Dedup.exciseRepeatedSpans(df, "text", "doc_id", 3), Seq("doc_id"))
      .as[(Long, String, String, Long)].collect()
    assert(out.length == docs.length)
    out.foreach { case (id, norm, clean, nRemoved) =>
      val before = norm.split(" ").toSeq
      val after = if (clean.isEmpty) Seq.empty else clean.split(" ").toSeq
      // exact token accounting
      assert(after.length == before.length - nRemoved, s"doc $id: $norm -> $clean")
      // surviving tokens are a subsequence of the original in order
      var i = 0
      after.foreach { tok =>
        val j = before.indexOf(tok, i)
        assert(j >= 0, s"doc $id: '$tok' out of order in $norm -> $clean")
        i = j + 1
      }
    }
    // every doc with NO repeated window passes through unchanged
    val repeatedByDoc = Dedup.spanHashes(df, "text", "doc_id", 3)
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("n") >= 2).select("doc_id").distinct()
      .as[Long].collect().toSet
    out.filter(o => !repeatedByDoc.contains(o._1)).foreach { case (id, norm, clean, nr) =>
      assert(nr == 0L && clean == norm, s"doc $id altered without repeats")
    }
    // determinism
    val again = Dedup.exciseRepeatedSpans(df, "text", "doc_id", 3)
      .as[(Long, String, Long)].collect().toSet
    assert(again == out.map(o => (o._1, o._3, o._4)).toSet)
  }

  test("sampleByTokenBudget: kept mass bounded by budget + one doc; subset; deterministic") {
    import graft.ext.Curation
    val row = for {
      id <- Gen.chooseNum(1L, 100000L)
      dom <- Gen.oneOf("a", "b", "c", "d")
      tok <- Gen.chooseNum(1L, 120L)
    } yield (id, dom, tok)
    val rows = Gen.listOfN(120, row).sample.get
      .groupBy(_._1).map(_._2.head).toSeq // unique ids
    val df = rows.toDF("doc_id", "dom", "n_tok")
    val budgets = Map("a" -> 300L, "b" -> 0L)
    val kept = Curation.sampleByTokenBudget(df, "doc_id", "dom", "n_tok", budgets, 150L)
      .as[(Long, String, Long)].collect().toSeq
    assert(kept.toSet.subsetOf(rows.toSet)) // pure filter: a subset, rows untouched
    kept.groupBy(_._2).foreach { case (dom, ds) =>
      val budget = budgets.getOrElse(dom, 150L)
      val mass = ds.map(_._3).sum
      val maxDoc = ds.map(_._3).max
      assert(mass < budget + maxDoc, s"$dom kept $mass of budget $budget")
    }
    assert(!kept.exists(_._2 == "b")) // zero budget drops the domain
    // a domain with total mass under budget survives whole
    val totals = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    totals.filter { case (d, m) => d != "b" && m <= budgets.getOrElse(d, 150L) }
      .foreach { case (d, m) =>
        assert(kept.filter(_._2 == d).map(_._3).sum == m, s"$d should survive whole")
      }
    // determinism
    val again = Curation.sampleByTokenBudget(df, "doc_id", "dom", "n_tok", budgets, 150L)
      .as[(Long, String, Long)].collect().toSeq
    assert(again.toSet == kept.toSet)
  }

  test("assignShards: partition (never sample/duplicate) for arbitrary weights and shard counts") {
    import graft.ext.Curation
    val row = for {
      id <- Gen.chooseNum(1L, 1000000L)
      w <- Gen.chooseNum(0L, 500L) // includes zero-weight docs
    } yield (id, w)
    val rows = Gen.listOfN(150, row).sample.get
      .groupBy(_._1).map(_._2.head).toSeq // unique ids (the id contract)
    val df = rows.toDF("doc_id", "n_tok")
    Seq(1, 3, 8).foreach { k =>
      val out = Curation.assignShards(df, "doc_id", "n_tok", k, 32L)
        .select("doc_id", "n_tok", "shard").as[(Long, Long, Int)].collect()
      // exact partition: every input row once, weights untouched, in range
      assert(out.map(r => (r._1, r._2)).toVector.sorted == rows.toVector.sorted,
        s"k=$k lost or mutated rows")
      assert(out.forall(r => r._3 >= 0 && r._3 < k), s"k=$k out of range")
      if (k == 1) assert(out.forall(_._3 == 0))
    }
  }

  test("spanCorrupt: lossless decomposition for arbitrary corpora, rates, span lengths") {
    import graft.ext.Curation
    val docGen = Gen.chooseNum(0, 17).map(n => (0 until n).map(i => s"w$i").mkString(" "))
    val docs = Gen.listOfN(40, docGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    for (rate <- Seq(0, 15, 50, 100); spanLen <- Seq(1, 3, 5)) {
      val out = Curation.spanCorrupt(df, "text", "doc_id", spanLen, rate)
        .select("doc_id", "input", "target", "n_masked")
        .as[(Long, String, String, Long)].collect()
      out.foreach { case (id, input, target, nMasked) =>
        val orig = docs.find(_._1 == id).get._2.trim
          .split("\\s+").filter(_.nonEmpty).mkString(" ")
        // substituting each sentinel's target span back into the input
        // recovers the original token stream, at every rate and span size
        val spans = target.split("<extra_id_\\d+>").map(_.trim).filter(_.nonEmpty)
        assert(spans.length == (if (target.isEmpty) 0 else nMasked),
          s"doc $id target $target")
        val rebuilt = spans.zipWithIndex.foldLeft(input) {
          case (acc, (span, k)) => acc.replace(s"<extra_id_$k>", span)
        }
        assert(rebuilt == orig, s"doc $id rate $rate len $spanLen: " +
          s"input=$input target=$target rebuilt=$rebuilt orig=$orig")
      }
    }
  }

  test("agreement/drift statistics stay in their theoretical ranges on random data") {
    import graft.ext.{Learn, TextStats}
    val q20 = 1L << 20
    // random two-rater labelings over a 3-letter alphabet, 3 keys
    val lab = Gen.listOfN(120, for {
      g <- Gen.oneOf("k1", "k2", "k3")
      a <- Gen.oneOf("A", "B", "C")
      b <- Gen.oneOf("A", "B", "C")
      c <- Gen.option(Gen.oneOf("A", "B", "C"))
    } yield (g, a, b, c.orNull)).sample.get
    val df = lab.toDF("g", "ra", "rb", "rc")
    // Cohen's kappa, Fleiss' kappa, Krippendorff's alpha ∈ [-1, 1]
    Learn.cohenKappaQ20(df, Seq("g"), "ra", "rb")
      .select(col("kappa_q20")).as[Option[Long]].collect()
      .flatten.foreach(k => assert(k >= -q20 && k <= q20, k))
    Learn.fleissKappaQ20(df.filter(col("rc").isNotNull), Seq("g"),
        Seq("ra", "rb", "rc"))
      .select(col("kappa_q20")).as[Option[Long]].collect()
      .flatten.foreach(k => assert(k >= -q20 && k <= q20, k))
    // alpha ≤ 1 always (D_o, D_e ≥ 0); the LOWER bound is −1 only
    // asymptotically — finite samples can dip below, so only sanity
    Learn.krippendorffAlphaQ20(df, Seq("g"), Seq("ra", "rb", "rc"))
      .select(col("alpha_q20")).as[Option[Long]].collect()
      .flatten.foreach(a => assert(a >= -100 * q20 && a <= q20, a))
    // random integer feature drift: KS ∈ [0, 1], Cliff's delta ∈
    // [-1, 1], W1 >= 0, and the three agree on mergeable-bin inputs
    val va = Gen.listOfN(80, for {
      g <- Gen.oneOf("k1", "k2"); v <- Gen.chooseNum(-500L, 500L)
    } yield (g, v)).sample.get.toDF("g", "v")
    val vb = Gen.listOfN(80, for {
      g <- Gen.oneOf("k1", "k2"); v <- Gen.chooseNum(-500L, 500L)
    } yield (g, v)).sample.get.toDF("g", "v")
    TextStats.ksDriftQ20(va, vb, Seq("g"), "v", 32L, 1L)
      .select(col("ks_q20")).as[Option[Long]].collect()
      .flatten.foreach(k => assert(k >= 0 && k <= q20, k))
    TextStats.cliffsDeltaQ20(va, vb, Seq("g"), "v", 32L)
      .select(col("delta_q20")).as[Option[Long]].collect()
      .flatten.foreach(d => assert(d >= -q20 && d <= q20, d))
    TextStats.wassersteinDriftQ20(va, vb, Seq("g"), "v", 32L)
      .select(col("w1_q20")).as[Option[Long]].collect()
      .flatten.foreach(w => assert(w >= 0, w))
    // Kendall tau-a ∈ [-1, 1] on random bucketed score pairs
    val xy = Gen.listOfN(60, for {
      g <- Gen.oneOf("k1", "k2"); x <- Gen.chooseNum(0L, 9L)
      y <- Gen.chooseNum(0L, 9L)
    } yield (g, x, y)).sample.get.toDF("g", "x", "y")
    Learn.kendallTauAQ20(xy, Seq("g"), "x", "y")
      .select(col("tau_q20")).as[Option[Long]].collect()
      .flatten.foreach(t => assert(t >= -q20 && t <= q20, t))
    // chi-square >= 0 and McNemar >= 0 on random labels/predictions
    Learn.chiSquareAssocQ20(df.select(col("g"), col("ra"), col("rb")),
        Seq("g"), "ra", "rb")
      .select(col("chi2_q20")).as[Long].collect()
      .foreach(x => assert(x >= 0, x))
    val mc = lab.map { case (g, a, b, _) =>
      (g, 1L, if (a == "A") 1L else -1L, if (b == "A") 1L else -1L)
    }.toDF("g", "y", "pa", "pb")
    Learn.mcnemarQ20(mc, Seq("g"), "y", "pa", "pb")
      .select(col("mcnemar_q20")).as[Option[Long]].collect()
      .flatten.foreach(x => assert(x >= 0, x))
  }

  test("drift/agreement merge identities hold under random sharding") {
    import graft.ext.{Learn, TextStats}
    val rows = Gen.listOfN(90, for {
      g <- Gen.oneOf("k1", "k2"); a <- Gen.oneOf("A", "B")
      b <- Gen.oneOf("A", "B"); c <- Gen.oneOf("A", "B")
      cut <- Gen.chooseNum(0, 2)
    } yield (g, a, b, c, cut)).sample.get
    val full = rows.map(r => (r._1, r._2, r._3, r._4))
      .toDF("g", "ra", "rb", "rc")
    def shard(i: Int) = rows.filter(_._5 == i)
      .map(r => (r._1, r._2, r._3, r._4)).toDF("g", "ra", "rb", "rc")
    val shards = (0 to 2).map(shard)
    // Fleiss cells: random 3-way shard re-sum == one-shot
    val one = Learn.fleissKappaQ20(full, Seq("g"), Seq("ra", "rb", "rc"))
      .as[(String, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    val merged = Learn.fleissKappaFromCells(
      Learn.mergeFleissCells(shards.map(s =>
        Learn.fleissCells(s, Seq("g"), Seq("ra", "rb", "rc"))), Seq("g")),
      Seq("g"), m = 3)
      .as[(String, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(merged == one, s"merged=$merged one=$one")
    // chi-square cells: same identity
    val c1 = Learn.chiSquareAssocQ20(full, Seq("g"), "ra", "rb")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val c2 = Learn.chiSquareFromCells(
      Learn.mergeChiSquareCells(shards.map(s =>
        Learn.chiSquareCells(s, Seq("g"), "ra", "rb")), Seq("g")), Seq("g"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(c2 == c1, s"merged=$c2 one=$c1")
    // floor-bin counts: random sharding re-sums to the one-shot KS/W1
    val vals = Gen.listOfN(70, for {
      g <- Gen.oneOf("k1", "k2"); v <- Gen.chooseNum(-300L, 300L)
      cut <- Gen.chooseNum(0, 2)
    } yield (g, v, cut)).sample.get
    val vFull = vals.map(r => (r._1, r._2)).toDF("g", "v")
    val vOther = Gen.listOfN(40, for {
      g <- Gen.oneOf("k1", "k2"); v <- Gen.chooseNum(-300L, 300L)
    } yield (g, v)).sample.get.toDF("g", "v")
    val binsMerged = (0 to 2).map(i =>
      TextStats.floorBinCounts(vals.filter(_._3 == i)
        .map(r => (r._1, r._2)).toDF("g", "v"), Seq("g"), "v", 32L,
        "c", "PropertySpec"))
      .reduce(_ unionByName _)
      .groupBy(col("g"), col("_ks_bin")).agg(sum(col("c")).as("c"))
    val otherBins = TextStats.floorBinCounts(vOther, Seq("g"), "v", 32L,
      "c", "PropertySpec")
    val ksOne = TextStats.ksDriftQ20(vFull, vOther, Seq("g"), "v", 32L, 1L)
      .as[(String, Long, Long, Long, Option[Long], Long)]
      .collect().sortBy(_._1).toSeq
    val ksM = TextStats.ksDriftFromBins(binsMerged, otherBins, Seq("g"),
        "_ks_bin", "c", 1L)
      .as[(String, Long, Long, Long, Option[Long], Long)]
      .collect().sortBy(_._1).toSeq
    assert(ksM == ksOne, s"merged=$ksM one=$ksOne")
    val w1One = TextStats.wassersteinDriftQ20(vFull, vOther, Seq("g"),
        "v", 32L)
      .as[(String, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    val w1M = TextStats.wassersteinFromBins(binsMerged, otherBins,
        Seq("g"), "_ks_bin", "c", unitsPerBin = 32L)
      .as[(String, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(w1M == w1One, s"merged=$w1M one=$w1One")
  }
}
