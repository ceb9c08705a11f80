package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.stage.Stage

/** WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer) —
  * the third major subword algorithm beside BPE ([[TextStats]] x38
  * family) and unigram-LM ([[Unigram]] x74 family). Two halves:
  *
  *  - **Training** is BPE-shaped — iterative merges over a unit stream —
  *    but ranked by LIKELIHOOD GAIN, not raw pair count: merge the pair
  *    maximizing count(ab) / (count(a) · count(b)), the mutual-
  *    information ranking the reference WordPiece trainers implement.
  *    The ratio ranks in EXACT Q8 integer log space — score_q8 =
  *    log2q8(c_ab) − log2q8(c_a) − log2q8(c_b) ([[Unigram.log2q8]]:
  *    shift-and-square, engine-exact) — so every round replays
  *    bit-for-bit in the oracle; the corpus-total term of the true
  *    log-likelihood is constant within a round and cannot change the
  *    argmax, so the 3-term form IS the ranking (at Q8 resolution, with
  *    the deterministic (score desc, a, b) tie rule).
  *  - **Segmentation** is greedy LONGEST-MATCH-FIRST (BERT's MaxMatch):
  *    at each position take the longest vocabulary piece (non-initial
  *    positions match '##'-prefixed continuation pieces); a position
  *    with no match makes the WHOLE word [UNK] — the standard rule.
  *
  * Unit convention: a word charifies to first char + '##'-prefixed
  * continuation chars ("hello" → "h ##e ##l ##l ##o"); merging (a, b)
  * yields a + b-without-'##' ("h"+"##e" → "he", "##l"+"##o" → "##lo"),
  * so a unit's '##' prefix always encodes word-internal position. Corpus
  * words that themselves contain '#' can alias the prefix — the standard
  * WordPiece ambiguity; both engines replay it identically.
  *
  * Scale shape: training runs on the DISTINCT-WORD table (ONE corpus
  * text pass — the [[Unigram.wordCounts]] move); each round is two
  * token-key aggregations (units, pairs — both bounded by the live unit
  * inventory, not the corpus), a join of pairs to unit counts on the two
  * unit keys, and one TakeOrdered top-1 row to the driver; the merge
  * application is a pure projection over the word table. Segmentation is
  * a zero-exchange projection over DISTINCT words (the vocabulary folds
  * in as a bounded literal under a loud ceiling — the trainTokenVocab
  * convention) + one join back on the word key + one id-keyed roll-up.
  *
  * Reference provenance: the reference has no tokenizer (its text
  * handling is simple splits — dug_helpers/dug_utils.py); this extends
  * the LLM-pipeline surface the same way the BPE and unigram families do.
  */
object WordPiece {

  /** One trained merge: rank, the pair, the merged unit, the pair count
    * and Q8 likelihood-gain score at merge time. */
  case class WpMerge(merge_rank: Int, a: String, b: String, merged: String,
                     pn: Long, score_q8: Long)

  /** The WordPiece unit stream of a word: first char bare, every later
    * char '##'-prefixed, space-joined — "hello" → "h ##e ##l ##l ##o".
    * A per-code-point regex (java.util.regex and RE2 are both code-point
    * automata — the charify discipline), so astral chars never split
    * into surrogates. Pure projection. */
  def wordUnits(word: Column): Column =
    concat(substring(word, 1, 1),
      regexp_replace(substr(word, lit(2), length(word)), "(.)", " ##$1"))

  /** Unit counts of a (_wp_t units-stream, wcnt) frame: one token-key
    * aggregation, map-side partials absorb the Zipf head. */
  def unitCounts(stream: DataFrame): DataFrame =
    stream.select(explode(split(col("_wp_t"), " ")).as("u"), col("wcnt"))
      .groupBy(col("u")).agg(sum(col("wcnt")).cast("long").as("cnt"))

  /** Adjacent-pair counts of a (_wp_t, wcnt) frame, weighted by word
    * frequency — the slice/arrays_zip shape of
    * [[TextStats.bpePairCounts]] (stays in whole-stage codegen), plus
    * the weight. */
  def pairCounts(stream: DataFrame): DataFrame = {
    val t0 = col("_wp_toks")
    stream.select(split(col("_wp_t"), " ").as("_wp_toks"), col("wcnt"))
      .filter(size(t0) >= 2)
      .select(explode(arrays_zip(
        slice(t0, lit(1), size(t0) - 1),
        slice(t0, lit(2), size(t0) - 1))).as("_wp_pq"), col("wcnt"))
      .select(col("_wp_pq.0").as("a"), col("_wp_pq.1").as("b"), col("wcnt"))
      .groupBy(col("a"), col("b")).agg(sum(col("wcnt")).cast("long").as("pn"))
  }

  /** Apply ONE merge (a, b) → `merged` to a unit-stream column — the
    * [[TextStats.bpeApplyMerge]] doubled-space literal-replace trick
    * (leftmost non-overlapping in every engine), except the replacement
    * token is the WordPiece merge a + strip##(b) rather than a⟨sep⟩b. */
  def applyMerge(stream: Column, a: String, b: String,
                 merged: String): Column = {
    val doubled =
      concat(lit(" "), replace(stream, lit(" "), lit("  ")), lit(" "))
    val m = replace(doubled,
      lit(" " + a + "  " + b + " "), lit(" " + merged + " "))
    trim(replace(m, lit("  "), lit(" ")))
  }

  /** The merged unit of pair (a, b): a + b without its '##' continuation
    * prefix — the merged unit inherits a's word-position flavor. */
  def mergedUnit(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** Train `nMerges` WordPiece merges over a text column. Per round:
    * unit + pair counts (exact, wcnt-weighted), Q8 likelihood-gain
    * scores, the top pair by (score desc, a, b) — one bounded row to the
    * driver — and the projection applying it. Rounds with no remaining
    * pair stop early (short table). `stagePerIteration` stages the word
    * table per round to parquet for deep runs (constant plan size — the
    * bpeTrain contract). Returns the trained merge table. */
  def wordPieceTrain(df: DataFrame, textCol: String, nMerges: Int,
                     maxWordLen: Int,
                     stagePerIteration: Boolean = false): Seq[WpMerge] = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = df.sparkSession
    // stage the distinct-word unit table ONCE: every round consumes it
    // through two branches (unit census + pair census) and the likelihood
    // argmax, so a lazy lineage re-runs the full-corpus word aggregation
    // ~2× per round — the corpus is read exactly once now and rounds
    // scan only the (distinct words × counts) table (vocabulary-sized).
    // Measured at the 100× rehearsal: exponent 0.72 → (re-measured after
    // this change — see PERF round 16). Staged through graft.stage.Stage,
    // the engine's one staging contract.
    var cur = Stage.writeAndRead(
      Unigram.wordCounts(df, textCol, maxWordLen)
        .select(wordUnits(col("word")).as("_wp_t"), col("wcnt")))
    val merges = Seq.newBuilder[WpMerge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val uc = unitCounts(cur)
      val top = pairCounts(cur)
        .join(uc.select(col("u").as("a"), col("cnt").as("_wp_ca")), "a")
        .join(uc.select(col("u").as("b"), col("cnt").as("_wp_cb")), "b")
        .select(col("a"), col("b"), col("pn"),
          (Unigram.log2q8(col("pn")) - Unigram.log2q8(col("_wp_ca"))
            - Unigram.log2q8(col("_wp_cb"))).as("s"))
        .orderBy(col("s").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        val m = mergedUnit(a, b)
        merges += WpMerge(rank, a, b, m, top(0).getLong(2), top(0).getLong(3))
        cur = cur.select(applyMerge(col("_wp_t"), a, b, m).as("_wp_t"),
          col("wcnt"))
        if (stagePerIteration)
          cur = Stage.writeAndRead(cur)
        rank += 1
      }
    }
    merges.result()
  }

  /** The trained vocabulary: distinct units of the merge-applied stream
    * with count ≥ `minFreq` (the min_frequency knob real WordPiece
    * vocabularies ship with — rare chars prune, which is what makes
    * [UNK]s possible), collected under a loud `maxVocabLiteral` ceiling
    * (the greedy segmenter folds the vocabulary into the plan as a map
    * literal — the trainTokenVocab convention). Returns unit → count. */
  def wordPieceVocab(df: DataFrame, textCol: String, merges: Seq[WpMerge],
                     maxWordLen: Int, minFreq: Long,
                     maxVocabLiteral: Int = 4096): Map[String, Long] = {
    val base = Unigram.wordCounts(df, textCol, maxWordLen)
      .select(wordUnits(col("word")).as("_wp_t"), col("wcnt"))
    val fin = merges.sortBy(_.merge_rank).foldLeft(base)((s, m) =>
      s.select(applyMerge(col("_wp_t"), m.a, m.b, m.merged).as("_wp_t"),
        col("wcnt")))
    val v = unitCounts(fin).filter(col("cnt") >= minFreq)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(v.size <= maxVocabLiteral,
      s"WordPiece vocabulary has ${v.size} units (> maxVocabLiteral = " +
        s"$maxVocabLiteral): raise minFreq or the ceiling explicitly — " +
        "the greedy segmenter folds the vocabulary into the plan")
    v
  }

  /** Greedy MaxMatch over one word under a LITERAL vocabulary — BERT's
    * WordPiece segmenter as a pure bounded fold (the viterbiDp
    * discipline): the state walks (pos, n_pieces, unk, acc) through at
    * most length(word) steps; each step matches the LONGEST vocabulary
    * piece at pos (initial position matches bare pieces, later positions
    * '##'-prefixed ones) and a position with no match turns the whole
    * word into [UNK] with one piece — the standard rule. Returns
    * struct(np: long, unk: boolean, acc: string) with acc the
    * space-joined piece stream ("[UNK]" for unk words). */
  def greedySegment(word: Column, vocab: Map[String, Long],
                    maxPieceLen: Int): Column = {
    require(vocab.nonEmpty, "greedySegment needs a non-empty vocabulary")
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    val vlit = typedlit(vocab)
    val walked = aggregate(
      sequence(lit(1), length(word)),
      struct(lit(0).as("pos"), lit(0L).as("np"), lit(false).as("unk"),
        lit("").as("acc")),
      (st, _) => {
        val pos = st.getField("pos")
        val done = st.getField("unk") || pos >= length(word)
        def pieceAt(l: Column): Column =
          when(pos === 0, substr(word, lit(1), l))
            .otherwise(concat(lit("##"), substr(word, pos + 1, l)))
        val lens = filter(
          sequence(lit(1), least(lit(maxPieceLen), length(word) - pos)),
          l => try_element_at(vlit, pieceAt(l)).isNotNull)
        val lmax = array_max(lens)
        val hit = pieceAt(lmax)
        when(done, st).otherwise(
          when(lmax.isNull,
            struct(length(word).as("pos"), lit(1L).as("np"),
              lit(true).as("unk"), lit("[UNK]").as("acc")))
          .otherwise(struct(
            (pos + lmax).as("pos"),
            (st.getField("np") + 1L).as("np"),
            lit(false).as("unk"),
            concat(st.getField("acc"),
              when(st.getField("acc") === "", lit("")).otherwise(lit(" ")),
              hit).as("acc"))))
      })
    struct(walked.getField("np").as("np"), walked.getField("unk").as("unk"),
      walked.getField("acc").as("acc"))
  }

  /** The trained vocabulary as a DATAFRAME — [[wordPieceVocab]] without
    * the collect or the ceiling: (piece, cnt) rows of the merge-applied
    * unit stream at `minFreq`, the artifact the data-driven segmenter
    * ([[segmentDocsJoin]]) consumes and a production 30k-piece BERT
    * vocabulary ships as. Never leaves the cluster. */
  def wordPieceVocabDf(df: DataFrame, textCol: String, merges: Seq[WpMerge],
                       maxWordLen: Int, minFreq: Long): DataFrame = {
    val base = Unigram.wordCounts(df, textCol, maxWordLen)
      .select(wordUnits(col("word")).as("_wp_t"), col("wcnt"))
    val fin = merges.sortBy(_.merge_rank).foldLeft(base)((s, m) =>
      s.select(applyMerge(col("_wp_t"), m.a, m.b, m.merged).as("_wp_t"),
        col("wcnt")))
    unitCounts(fin).filter(col("cnt") >= minFreq)
      .select(col("u").as("piece"), col("cnt"))
  }

  /** Greedy MaxMatch over a word's IN-VOCABULARY edge list — the
    * [[greedySegment]] twin with the vocabulary as DATA (the
    * viterbiDpFromEdges move): `edges` is array<struct<j:int,i:int>> of
    * windows [j, i) whose (##-prefixed past 0) piece is in the
    * vocabulary. Each step takes the longest edge STARTING at pos; the
    * piece string rebuilds from (pos, len) — identical to the literal
    * form's pieceAt, so parity is exact: a window is an edge iff the
    * literal lookup hits. */
  private def greedySegmentFromEdges(word: Column, edges: Column): Column = {
    val walked = aggregate(
      sequence(lit(1), length(word)),
      struct(lit(0).as("pos"), lit(0L).as("np"), lit(false).as("unk"),
        lit("").as("acc")),
      (st, _) => {
        val pos = st.getField("pos")
        val done = st.getField("unk") || pos >= length(word)
        val ends = transform(
          filter(edges, e => e.getField("j") === pos),
          e => e.getField("i"))
        val imax = array_max(ends)
        val l = imax - pos
        val hit = when(pos === 0, substr(word, lit(1), l))
          .otherwise(concat(lit("##"), substr(word, pos + 1, l)))
        when(done, st).otherwise(
          when(imax.isNull,
            struct(length(word).as("pos"), lit(1L).as("np"),
              lit(true).as("unk"), lit("[UNK]").as("acc")))
          .otherwise(struct(
            imax.as("pos"),
            (st.getField("np") + 1L).as("np"),
            lit(false).as("unk"),
            concat(st.getField("acc"),
              when(st.getField("acc") === "", lit("")).otherwise(lit(" ")),
              hit).as("acc"))))
      })
    struct(walked.getField("np").as("np"), walked.getField("unk").as("unk"),
      walked.getField("acc").as("acc"))
  }

  /** [[segmentDocs]] on the DATA-DRIVEN path — the tokenIdsJoin move
    * applied to greedy MaxMatch, for vocabularies past the literal
    * ceiling (a production BERT vocabulary is ~30k pieces): the
    * vocabulary arrives as a (piece, …) DataFrame; each distinct word
    * explodes into its ≤ len·maxPieceLen position-aware candidate pieces
    * ONCE, a BROADCAST equi-join keeps the in-vocabulary edges, and the
    * greedy walk folds over the collected edge list — plan size
    * independent of the vocabulary, no driver collect anywhere (the
    * whole train → deploy lifecycle stays on the cluster). Output and
    * semantics are [[segmentDocs]]'s, bit for bit (x76c answers x76b's
    * oracle verbatim). */
  def segmentDocsJoin(df: DataFrame, textCol: String, idCol: String,
                      vocab: DataFrame, maxPieceLen: Int,
                      maxWordLen: Int): DataFrame = {
    Seq("_wp_w", "_wp_pos", "_wp_seg", "_wp_e", "_wp_edges", "word",
        "n_words", "n_unk", "n_pieces", "seg_md5").foreach { c =>
      require(c != idCol, s"segmentDocsJoin reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"segmentDocsJoin reserves column $c")
    }
    require(vocab.columns.contains("piece"),
      s"vocab must carry a piece column; got ${vocab.columns.mkString(",")}")
    val docWords = df
      .select(col(idCol), posexplode(split(
        TextStats.wsTrim(coalesce(col(textCol), lit(""))), "\\s+"))
        .as(Seq("_wp_pos", "_wp_w")))
      .filter(col("_wp_w") =!= "")
      .select(col(idCol), col("_wp_pos"),
        substring(col("_wp_w"), 1, maxWordLen).as("word"))
    val allWords = docWords.select(col("word")).distinct()
    // every position-aware window once per distinct word: piece carries
    // the '##' continuation prefix exactly as the literal lookup builds it
    val windows = transform(sequence(lit(0), length(col("word")) - 1), j =>
      transform(
        sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - j)),
        l => struct(j.cast("int").as("j"), (j + l).cast("int").as("i"),
          when(j === 0, substr(col("word"), lit(1), l))
            .otherwise(concat(lit("##"), substr(col("word"), j + 1, l)))
            .as("piece"))))
    val edges = allWords
      .select(col("word"), explode(flatten(windows)).as("_wp_e"))
      .select(col("word"), col("_wp_e.j").as("j"), col("_wp_e.i").as("i"),
        col("_wp_e.piece").as("piece"))
      .join(broadcast(vocab.select(col("piece"))), "piece")
      .groupBy(col("word"))
      .agg(array_sort(collect_list(struct(col("j"), col("i"))))
        .as("_wp_edges"))
    // LEFT join back: a word with NO in-vocabulary window still needs a
    // walk — the empty edge list turns it [UNK] on the first step, the
    // literal path's all-misses behavior
    val wordSeg = allWords.join(edges, Seq("word"), "left")
      .withColumn("_wp_edges", coalesce(col("_wp_edges"),
        expr("cast(array() as array<struct<j:int,i:int>>)")))
      .select(col("word"),
        greedySegmentFromEdges(col("word"), col("_wp_edges")).as("_wp_seg"))
    docWords.join(wordSeg, "word")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(col("_wp_seg.unk"), 1L).otherwise(0L)).as("n_unk"),
        sum(col("_wp_seg.np")).as("n_pieces"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_wp_pos"), col("_wp_seg.acc")))),
          e => e.getField("acc")))).as("seg_md5"))
  }

  /** Segment a corpus with a trained vocabulary — per doc: word count,
    * [UNK]-word count, total piece count ([UNK] words count 1), and the
    * md5 of the full piece stream in document word order (the x38c
    * seg_md5 convention — a segmentation bug anywhere breaks the hash).
    * Blank/null docs are absent (no words). Scale shape: one (id, pos,
    * word) text pass, the greedy fold once per DISTINCT word
    * (zero-exchange projection) joined back on the word key, one
    * id-keyed roll-up whose order key is the in-doc word position. */
  def segmentDocs(df: DataFrame, textCol: String, idCol: String,
                  vocab: Map[String, Long], maxPieceLen: Int,
                  maxWordLen: Int): DataFrame = {
    Seq("_wp_w", "_wp_pos", "_wp_seg", "word",
        "n_words", "n_unk", "n_pieces", "seg_md5").foreach { c =>
      require(c != idCol, s"segmentDocs reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"segmentDocs reserves column $c")
    }
    val docWords = df
      .select(col(idCol), posexplode(split(
        TextStats.wsTrim(coalesce(col(textCol), lit(""))), "\\s+"))
        .as(Seq("_wp_pos", "_wp_w")))
      .filter(col("_wp_w") =!= "")
      .select(col(idCol), col("_wp_pos"),
        substring(col("_wp_w"), 1, maxWordLen).as("word"))
    val wordSeg = docWords.select(col("word")).distinct()
      .select(col("word"),
        greedySegment(col("word"), vocab, maxPieceLen).as("_wp_seg"))
    docWords.join(wordSeg, "word")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(col("_wp_seg.unk"), 1L).otherwise(0L)).as("n_unk"),
        sum(col("_wp_seg.np")).as("n_pieces"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_wp_pos"), col("_wp_seg.acc")))),
          e => e.getField("acc")))).as("seg_md5"))
  }
}
