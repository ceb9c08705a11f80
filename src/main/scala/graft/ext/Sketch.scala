package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.stage.Stage

/** MERGEABLE SKETCHES for corpus-scale statistics — the third leg of the
  * approximate family beside LSH buckets (dedup) and IVF cells (ANN):
  * fixed-size summaries whose cells are plain aggregates (SUM / MAX /
  * bottom-k), so they combine map-side, merge across shards/batches by
  * construction, and — because every hash is an md5 derivation, never a
  * seeded RNG — replay BIT-FOR-BIT in any engine. That determinism is the
  * house discipline (bloomPositions, SimHash, the salted draws): the
  * sketch's approximation ERROR is itself oracle-checkable, not just
  * bounded on paper.
  *
  * Count–min sketch: frequency estimation / heavy hitters over an
  * unbounded value stream in depth×width cells (overestimates only).
  * HyperLogLog: distinct-count estimation in 2^p max-registers with the
  * standard bias correction and linear-counting small-range arm, all in
  * exact integer arithmetic (the α ratio is rational; the small-range
  * ln uses the Q8 integer log₂ shared with the tokenizer trainers and
  * an ln 2 Q20 constant — a documented, deterministic approximation of
  * the float formula, NOT a float).
  * KMV (bottom-k / theta): distinct-value sampling for SET estimates —
  * union, intersection, Jaccard — across corpora.
  * Quantile sketch: hash-coordinated bottom-k row sample answering all
  * quantiles per group key ([[qsState]] — the mergeable quantile summary
  * that completes the family: frequency, distinct, overlap, quantiles).
  */
object Sketch {

  /** md5-derived count–min position of `item` for hash row h: first 5
    * md5 hex digits of "item:cms:h" mod width — the bloomPositions
    * derivation, 20 bits, replayed in SQL by the same nibble chain. */
  private def cmsPos(item: Column, h: Int, width: Int): Column =
    conv(substring(md5(concat(item, lit(s":cms:$h"))), 1, 5), 16, 10)
      .cast("long") % width

  /** Build a COUNT–MIN SKETCH over a value stream: `depth` hash rows ×
    * `width` counters, stored as DATA — (row, pos, c) cells, at most
    * depth·width rows regardless of stream size. One explode (×depth)
    * and ONE map-side-combining aggregation; the stream never shuffles
    * anything but 20-bit cell coordinates. Cells are sums, so sketches
    * over shards/batches merge by unioning cells and re-summing —
    * the mergeability that makes the sketch a streaming/incremental
    * citizen. NULL values are skipped (a count sketch has no null key).
    */
  def cmsSketch(values: DataFrame, valueCol: String,
                width: Int, depth: Int): DataFrame = {
    require(width >= 1 && width <= (1 << 20),
      s"width must be in [1, 2^20]: $width")
    require(depth >= 1 && depth <= 16, s"depth must be in [1, 16]: $depth")
    values.select(col(valueCol).cast("string").as("_cm_v"))
      .filter(col("_cm_v").isNotNull)
      .select(explode(array((0 until depth).map { h =>
        struct(lit(h).cast("int").as("row"),
          cmsPos(col("_cm_v"), h, width).as("pos"))
      }: _*)).as("_cm_rp"))
      .groupBy(col("_cm_rp.row").as("row"), col("_cm_rp.pos").as("pos"))
      .agg(count(lit(1)).as("c"))
  }

  /** Point-estimate stream counts for candidate values against a built
    * [[cmsSketch]]: est(v) = min over the depth rows of cell(row,
    * pos_row(v)) — the count–min guarantee: est ≥ true count always
    * (no cell ever undercounts), overestimates only from collisions.
    * The sketch BROADCASTS (≤ depth·width cells — boundedness is the
    * point); candidates dedupe and explode ×depth, so the probe is one
    * broadcast equi-join + one min aggregation, independent of the
    * original stream's size. A cell no candidate hashed to reads 0
    * (a never-seen value estimates its true count, 0). Returns
    * (value, est). */
  def cmsEstimate(candidates: DataFrame, sketch: DataFrame, valueCol: String,
                  width: Int, depth: Int): DataFrame = {
    require(width >= 1 && width <= (1 << 20),
      s"width must be in [1, 2^20]: $width")
    require(depth >= 1 && depth <= 16, s"depth must be in [1, 16]: $depth")
    Seq("row", "pos", "c").foreach(c => require(sketch.columns.contains(c),
      s"sketch must carry (row, pos, c) cells — missing $c"))
    candidates.select(col(valueCol).cast("string").as("value"))
      .filter(col("value").isNotNull).distinct()
      .select(col("value"), explode(array((0 until depth).map { h =>
        struct(lit(h).cast("int").as("row"),
          cmsPos(col("value"), h, width).as("pos"))
      }: _*)).as("_cm_rp"))
      .select(col("value"), col("_cm_rp.row").as("row"),
        col("_cm_rp.pos").as("pos"))
      .join(broadcast(sketch.select(col("row"), col("pos"), col("c"))),
        Seq("row", "pos"), "left")
      .groupBy(col("value"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** JOIN-SIZE ESTIMATE from two [[cmsSketch]] cell tables ALONE — the
    * count–min inner product (Cormode & Muthukrishnan, J. Algorithms'05
    * §4.2): for each of the `depth` hash rows, Σ_pos a_cell·b_cell ≥
    * Σ_k cnt_a(k)·cnt_b(k) = |A ⋈ B| (collisions only ADD cross terms),
    * so the min over rows overestimates-only, like the point estimate.
    * This is the planner probe that decides broadcast-vs-shuffle (or
    * whether a join is feasible at all) from two fixed-size summaries,
    * without scanning either side — and since the sketches are
    * mergeable, the estimate stays maintainable under ingest. A depth
    * row with NO colliding cells reads its true 0 (the row frame joins
    * LEFT from a literal depth range). Products fold in decimal(38,0)
    * (two ~1e9 counts overflow a long). Returns one row (est). */
  def cmsJoinSizeEstimate(a: DataFrame, b: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1, 16]: $depth")
    Seq(a, b).foreach(s => Seq("row", "pos", "c").foreach(c =>
      require(s.columns.contains(c),
        s"cmsJoinSizeEstimate takes cmsSketch cell tables — missing $c")))
    val frame = a.sparkSession.range(depth)
      .select(col("id").cast("int").as("row"))
    // guard the depth precondition IN the plan: a caller-supplied depth
    // larger than the sketches' build depth would read the absent rows
    // as 0 via the left-join coalesce and MIN would return 0 — a silent
    // underestimate inverting the overestimate-only guarantee. A
    // non-empty cmsSketch populates every row 0..depth-1, so each side's
    // distinct row set must equal the literal frame exactly; any drift
    // (wrong depth, mixed-depth sketches) raises instead of estimating.
    // (Same-WIDTH is not recoverable from cells — it stays a documented
    // precondition: mixed widths hash the same value to different pos.)
    // An EMPTY cell table is not drift: cmsSketch over an empty corpus
    // yields zero rows, and the exact join size against anything is 0 —
    // short-circuit to est=0 instead of raising (the drift raise is for
    // NON-empty sketches whose row set mismatches the claimed depth).
    def rowDrift(s: DataFrame) = s.select(col("row")).distinct()
      .withColumn("_s", lit(1))
      .join(frame.withColumn("_f", lit(1)), Seq("row"), "full")
      .agg(count(when(col("_s").isNull || col("_f").isNull, 1)).as("drift"),
        count(col("_s")).as("present"))
    val drift = rowDrift(a).select(col("drift").as("_da"),
        col("present").as("_pa"))
      .crossJoin(rowDrift(b).select(col("drift").as("_db"),
        col("present").as("_pb")))
    val ip = a.select(col("row"), col("pos"), col("c").as("_ca"))
      .join(b.select(col("row"), col("pos"), col("c").as("_cb")),
        Seq("row", "pos"))
      .groupBy(col("row"))
      .agg(sum(col("_ca").cast("decimal(38,0)") * col("_cb")).as("_ip"))
    frame.join(ip, Seq("row"), "left")
      .agg(min(coalesce(col("_ip"), lit(0).cast("decimal(38,0)")))
        .cast("long").as("est"))
      .crossJoin(drift)
      .select(when(col("_pa") === 0 || col("_pb") === 0, lit(0L))
        .when(col("_da") + col("_db") > 0,
          raise_error(concat(lit("cmsJoinSizeEstimate: sketch row set != "),
            lit(s"[0, $depth) — depth mismatch ("),
            col("_da").cast("string"), lit("/"), col("_db").cast("string"),
            lit(" drifting rows); pass the build depth"))))
        .otherwise(col("est")).as("est"))
  }

  /** Merge count–min cell tables (shards, batches, streaming
    * micro-batches) by cell re-sum — the merged sketch is EXACTLY the
    * one-shot sketch of the concatenated streams (cells are sums;
    * SketchSpec pins the equality), which is what makes the sketch a
    * continuous-ingest citizen: the base corpus is summarized once and
    * never rescanned. */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "cmsMerge needs at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy(col("row"), col("pos")).agg(sum(col("c")).as("c"))
  }

  /** Merge HLL register tables by re-max — exactly the one-shot
    * registers of the concatenated streams (registers are maxes). */
  def hllMerge(registers: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(registers.nonEmpty, "hllMerge needs at least one register table")
    registers.reduce(_ unionByName _)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(max(col("reg")).as("reg"))
  }

  /** [[cmsSketch]] staged to parquet ([[graft.stage.Stage.writeAndRead]])
    * — the base-corpus summary, the persisted continuous-ingest artifact
    * a later batch merges into. */
  def cmsSketchStaged(values: DataFrame, valueCol: String,
                      width: Int, depth: Int): DataFrame =
    Stage.writeAndRead(cmsSketch(values, valueCol, width, depth))

  /** [[hllRegisters]] staged to parquet — the base-corpus state. */
  def hllRegistersStaged(df: DataFrame, keyCols: Seq[String],
                         valueCol: String, p: Int): DataFrame =
    Stage.writeAndRead(hllRegisters(df, keyCols, valueCol, p))

  /** md5-derived 48-bit KMV hash of a value: the first 12 md5 hex digits
    * of "v:kmv" as a long — uniform on [0, 2⁴⁸), independent of the cms
    * and bloom chains by the salt, replayed in SQL by the 12-nibble
    * positional chain (x82). */
  private def kmvHash(v: Column): Column =
    conv(substring(md5(concat(v, lit(":kmv"))), 1, 12), 16, 10).cast("long")

  /** K-MINIMUM-VALUES (bottom-k / theta-style) sketch state over a value
    * stream: the k SMALLEST distinct 48-bit hashes, as DATA — ≤ k rows of
    * (h). The third sketch beside count–min (frequency) and HLL
    * (distinct): KMV's state is a uniform SAMPLE of the distinct-value
    * hash space, so states over different corpora compose into SET
    * estimates — union, intersection, Jaccard (Beyer et al., SIGMOD'07,
    * "On synopses for distinct value estimation under multiset
    * operations") — which neither of the other two can answer. That is
    * the cheap cross-corpus overlap probe (train×eval contamination
    * rate, crawl-vs-crawl novelty) that runs on 2·k longs instead of a
    * full gram join.
    *
    * Plan: one hash-key distinct (map-side partial dedup — only 8-byte
    * hashes ever cross the exchange, never values) + a TakeOrdered k
    * (per-partition bottom-k, merged once). States over shards/batches
    * merge by re-bottom-k ([[kmvMerge]]; SketchSpec pins merge ≡
    * one-shot). NULL values are skipped. */
  def kmvState(values: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= (1 << 16), s"k must be in [2, 2^16]: $k")
    values.filter(col(valueCol).isNotNull)
      .select(kmvHash(col(valueCol).cast("string")).as("h"))
      .distinct()
      .orderBy(col("h")).limit(k)
  }

  /** Merge KMV states (shards, batches) by re-bottom-k: bottom-k of the
    * union of bottom-k samples IS the bottom-k of the union — the k
    * smallest hashes of A ∪ B are each within the k smallest of their
    * own side — so the merged state equals the one-shot state
    * bit-for-bit (SketchSpec pins it). */
  def kmvMerge(states: Seq[DataFrame], k: Int): DataFrame = {
    require(states.nonEmpty, "kmvMerge needs at least one state")
    require(k >= 2 && k <= (1 << 16), s"k must be in [2, 2^16]: $k")
    states.reduce(_ unionByName _).distinct().orderBy(col("h")).limit(k)
  }

  /** [[kmvState]] staged to parquet — the base-corpus sample a later
    * batch merges into without rescanning the base. */
  def kmvStateStaged(values: DataFrame, valueCol: String, k: Int): DataFrame =
    Stage.writeAndRead(kmvState(values, valueCol, k))

  /** Cross-corpus overlap from two [[kmvState]] frames ALONE (the
    * corpora themselves are never touched): one row
    * (k_eff, j_num, union_est, inter_est).
    *
    *  - L = bottom-k of the union of the two states; k_eff = |L| ≤ k.
    *  - union_est: while k_eff < k the union sample is COMPLETE, so the
    *    estimate is the exact k_eff; otherwise the classic order-
    *    statistic estimate (k−1)·2⁴⁸ div (h₍ₖ₎+1) — one decimal(38,0)
    *    floor division, deterministic because the hash is md5-derived.
    *  - j_num = |{h ∈ L : h ∈ A ∧ h ∈ B}| — L is a uniform sample of
    *    the union, so j_num/k_eff estimates the Jaccard similarity.
    *  - inter_est = j_num·union_est div k_eff — exact in the small
    *    regime (there j_num IS the intersection count and union_est =
    *    k_eff).
    *
    * Plan: both states and L are ≤ k rows — two broadcast membership
    * joins + one single-row aggregate; nothing here scales with corpus
    * size. */
  def kmvOverlap(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2 && k <= (1 << 16), s"k must be in [2, 2^16]: $k")
    Seq(a, b).foreach(s => require(s.columns.contains("h"),
      "kmvOverlap takes kmvState frames (column h)"))
    val l = kmvMerge(Seq(a, b), k)
    val flags = l
      .join(broadcast(a.select(col("h")).withColumn("_kv_a", lit(1))),
        Seq("h"), "left")
      .join(broadcast(b.select(col("h")).withColumn("_kv_b", lit(1))),
        Seq("h"), "left")
    flags.agg(count(lit(1)).as("k_eff"), max(col("h")).as("_kv_hk"),
        coalesce(sum(when(col("_kv_a") === 1 && col("_kv_b") === 1, 1L)),
          lit(0L)).as("j_num"))
      .withColumn("union_est",
        when(col("k_eff") < k, col("k_eff")).otherwise(expr(
          s"cast((${k - 1}L * cast(281474976710656 as decimal(38,0)))" +
            " div (_kv_hk + 1L) as bigint)")))
      .select(col("k_eff"), col("j_num"), col("union_est"),
        when(col("k_eff") === 0L, lit(0L)).otherwise(expr(
          "cast((cast(j_num as decimal(38,0)) * union_est) div k_eff" +
            " as bigint)")).as("inter_est"))
  }

  /** md5-derived 48-bit quantile-sketch hash of a row id: first 12 md5
    * hex digits of "id:qtl" as a long — a salt chain independent of
    * ":kmv"/":cms:"/":pri", replayed in SQL by the 12-nibble positional
    * chain (x92). */
  private def qsHash(id: Column): Column =
    conv(substring(md5(concat(id, lit(":qtl"))), 1, 12), 16, 10).cast("long")

  /** MERGEABLE QUANTILE SKETCH state over a keyed value stream — the
    * fourth sketch beside count–min (frequency), HLL (distinct) and KMV
    * (set overlap): per group key, the ≤ `k` rows whose ":qtl"-salted
    * 48-bit md5 row-id hash is smallest (ties value-ascending), each
    * carrying its VALUE — i.e. a hash-coordinated uniform row sample,
    * the classic mergeable quantile summary (Agarwal et al., PODS'12,
    * "Mergeable summaries": a random sample of size k answers all
    * quantiles to ε ≈ √(log(1/δ)/k)). A KLL/GK compactor would give
    * ε = O(1/k), but its compaction decisions depend on ARRIVAL ORDER —
    * merge ≡ one-shot bit-for-bit (the house pin that makes the sketch
    * oracle-checkable) is structurally impossible there; hash
    * coordination gives it by construction: the bottom-k of a union is
    * within the union of the sides' bottom-k's, so shard/batch states
    * re-bottom-k into EXACTLY the one-shot state ([[qsMerge]],
    * SketchSpec pins it). No RNG anywhere — the sample, the estimates,
    * and their sampling ERROR all replay bit-for-bit in any engine.
    *
    * VALUES must already be integers (the Q-fixed-point contract):
    * a fractional value raises PER ROW rather than silently truncating.
    * `idCol` must uniquely key rows within the stream (the doc_id
    * contract) — the hash coordinates on row identity so duplicate
    * VALUES still sample uniformly. NULL values are skipped.
    *
    * Plan: one guarded projection → distinct → [[qsBottomK]] (salted
    * two-phase per-key selection; TakeOrdered for the ungrouped form —
    * no task ever sorts a corpus-sized frame); only (keys, 8-byte h,
    * 8-byte v) rows ever cross an exchange. */
  def qsState(df: DataFrame, keyCols: Seq[String], idCol: String,
              valueCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && k <= (1 << 16), s"k must be in [2, 2^16]: $k")
    // the state schema is (keys..., h, v): only a KEY column can collide
    // with it (the id feeds the hash, the value aliases to v)
    Seq("h", "v", "_qs_rn").foreach(c => require(!keyCols.contains(c),
      s"qsState reserves column $c — rename the key column"))
    val vChecked = when(col(valueCol).cast("long") === col(valueCol),
        col(valueCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"qsState needs integer (Q-fixed-point) values; $valueCol = "),
        col(valueCol).cast("string"))))
    val rows = df.filter(col(valueCol).isNotNull)
      .select((keyCols.map(col) :+
        qsHash(col(idCol).cast("string")).as("h") :+
        vChecked.as("v")): _*)
      .distinct()
    qsBottomK(rows, keyCols, k)
  }

  /** Bottom-k (h, v) rows per key with NO corpus-sized single-task sort
    * (the r12 posture fix): the keyed form is the `Scale.saltedTopK`
    * two-phase — phase 1 ranks within (keys, pmod(h, 32)) so every key's
    * row set spreads over 32 tasks and at most 32·k rows per key survive
    * to the phase-2 re-rank (sound by the merge lemma: each of the
    * union's k smallest (h, v) rows is within its own salt bucket's k
    * smallest); the ungrouped form is orderBy(h, v).limit(k) —
    * TakeOrderedAndProject, per-partition truncation to k before the
    * single k·nPartitions-row reduce, never a global one-task sort.
    * Both phases order by the TOTAL (h, v) order over distinct rows, so
    * the result is bit-identical to the one-window form. */
  private def qsBottomK(rows: DataFrame, keyCols: Seq[String],
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (keyCols.isEmpty) rows.orderBy(col("h"), col("v")).limit(k)
    else {
      val w1 = Window
        .partitionBy((keyCols.map(col) :+ pmod(col("h"), lit(32L))): _*)
        .orderBy(col("h"), col("v"))
      val w2 = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("h"), col("v"))
      rows.withColumn("_qs_rn", row_number().over(w1))
        .filter(col("_qs_rn") <= k)
        .withColumn("_qs_rn", row_number().over(w2))
        .filter(col("_qs_rn") <= k).drop("_qs_rn")
    }
  }

  /** Merge quantile-sketch states (shards, batches, micro-batches) by
    * re-bottom-k per key: every one of the k smallest (h, v) rows of the
    * union is within its own side's k smallest, so the merged state IS
    * the one-shot state bit-for-bit (SketchSpec pins it) — continuous
    * quantile tracking never rescans the base corpus. */
  def qsMerge(states: Seq[DataFrame], keyCols: Seq[String],
              k: Int): DataFrame = {
    require(states.nonEmpty, "qsMerge needs at least one state")
    require(k >= 2 && k <= (1 << 16), s"k must be in [2, 2^16]: $k")
    qsBottomK(states.reduce(_ unionByName _).distinct(), keyCols, k)
  }

  /** [[qsState]] staged to parquet — the base-corpus sample a later
    * batch merges into without rescanning the base. */
  def qsStateStaged(df: DataFrame, keyCols: Seq[String], idCol: String,
                    valueCol: String, k: Int): DataFrame =
    Stage.writeAndRead(qsState(df, keyCols, idCol, valueCol, k))

  /** Quantile estimates from a [[qsState]] frame ALONE (the corpus is
    * never touched): for each group key and requested permille p, the
    * value at rank ⌈p·n/1000⌉ (≥ 1) of the state's values sorted
    * ascending (ties hash-ascending — any tie order yields the same
    * VALUE), where n ≤ k is the state's per-key row count. Exact
    * integer rank arithmetic, replayed verbatim in SQL. Returns
    * (keys..., permille, est), one row per key × permille.
    *
    * Plan: both windows run over the ≤ k-per-key STATE (constant-key
    * partition in the ungrouped case — the censused-frame discipline),
    * and the permille list folds in as a plan literal. */
  def qsQuantiles(state: DataFrame, keyCols: Seq[String],
                  permilles: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(permilles.nonEmpty && permilles == permilles.sorted &&
      permilles.distinct == permilles &&
      permilles.forall(p => p >= 1 && p <= 1000),
      s"permilles must be distinct, ascending, in [1, 1000]: $permilles")
    Seq("h", "v").foreach(c => require(state.columns.contains(c),
      s"qsQuantiles takes qsState frames (column $c)"))
    val parts = if (keyCols.isEmpty) Seq(pmod(col("h"), lit(1L)))
      else keyCols.map(col)
    val ranked = state
      .withColumn("_qs_n", count(lit(1)).over(Window.partitionBy(parts: _*)))
      .withColumn("_qs_vr", row_number().over(
        Window.partitionBy(parts: _*).orderBy(col("v"), col("h"))))
    ranked
      .select((keyCols.map(col) :+ col("v") :+ col("_qs_n") :+
        col("_qs_vr") :+
        explode(typedlit(permilles.map(_.toLong))).as("permille")): _*)
      .filter(col("_qs_vr") ===
        greatest(lit(1L), expr("(permille * _qs_n + 999L) div 1000L")))
      .select((keyCols.map(col) :+ col("permille") :+
        col("v").as("est")): _*)
  }

  /** HYPERLOGLOG registers over a (grouped) value stream: per group key,
    * 2^p max-registers as DATA — (keys..., bucket, reg). The 60-bit
    * value hash is the first 15 md5 hex digits (the SimHash hash); the
    * top p bits pick the bucket, the register is the leading-zero rank
    * of the remaining 60−p bits (+1; an all-zero rest reads the maximum
    * 61−p). Registers are MAX aggregates: shard/batch register tables
    * union and re-max into the whole-corpus state (SketchSpec pins the
    * merge ≡ one-shot equality), and the map-side partial max means the
    * stream's distinct values never cross the exchange — only (key,
    * bucket ≤ 2^p, reg ≤ 61−p) rows do. NULL values are skipped. */
  def hllRegisters(df: DataFrame, keyCols: Seq[String], valueCol: String,
                   p: Int): DataFrame = {
    require(p >= 4 && p <= 14, s"p must be in [4, 14]: $p")
    val reserved = Seq("bucket", "reg", "_hl_h", "_hl_r")
    reserved.foreach(c => require(!keyCols.contains(c) && c != valueCol,
      s"hllRegisters reserves column $c — rename it"))
    val restBits = 60 - p
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val rest = h.bitwiseAND(lit((1L << restBits) - 1))
    val rank = when(rest === 0L, lit((restBits + 1).toLong))
      .otherwise(lit((restBits + 1).toLong) - length(bin(rest)).cast("long"))
    df.filter(col(valueCol).isNotNull)
      .select((keyCols.map(col) :+
        call_function("shiftright", h, lit(restBits)).as("bucket") :+
        rank.as("reg")): _*)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(max(col("reg")).as("reg"))
  }

  /** Estimate per-group distinct counts from [[hllRegisters]] state, in
    * EXACT integer arithmetic. Raw estimate = α_m·m²/Σ 2^(−M_j) with
    * the sum over all m registers (absent buckets read 0) evaluated at
    * the common scale 2^(61−p), and α_m = 0.7213/(1 + 1.079/m) kept as
    * the exact rational 7213000·m / (10000·(1000m + 1079)) — ONE
    * decimal(38,0) floor division per group. The standard small-range
    * arm: when observed buckets V < m and raw ≤ 5m/2, linear counting
    * m·ln(m/Z) over the EMPTY-register count Z = m − V evaluates as
    * m·(log₂m − log₂Z)·ln2 over the Q8 integer
    * log (Unigram.log2q8 — the tokenizer trainers' arithmetic) and
    * ln 2 as the Q20 constant 726817 — deterministic in any engine,
    * which is what keeps the small-range arm oracle-checkable. Returns
    * (keys..., est); accuracy ~1.04/√m relative (SketchSpec pins the
    * deterministic observed error). Large-range correction is omitted:
    * it engages near 2^60/30 distincts — beyond any corpus. */
  def hllEstimate(registers: DataFrame, keyCols: Seq[String],
                  p: Int): DataFrame = {
    require(p >= 4 && p <= 14, s"p must be in [4, 14]: $p")
    val m = 1L << p
    val maxRank = 61 - p
    // α_m numerator folded with m²·2^(61−p): one decimal literal
    val estNum = BigInt(7213000) * BigInt(m) * BigInt(m) * BigInt(m) *
      (BigInt(1) << maxRank)
    val alphaDen = BigInt(10000) * (BigInt(1000) * m + 1079)
    val g = registers
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_hl_v"),
        sum(call_function("shiftleft", lit(1L),
          (lit(maxRank.toLong) - col("reg")).cast("int"))).as("_hl_s"))
      .withColumn("_hl_sn",
        expr(s"_hl_s + shiftleft(${m}L - _hl_v, $maxRank)"))
      .withColumn("_hl_raw",
        expr(s"cast($estNum div ($alphaDen * cast(_hl_sn as decimal(38,0))) " +
          "as bigint)"))
      // log₂ of the EMPTY-register count; at V = m the expression reads
      // log2q8(0) = 0 harmlessly — that branch never selects (V < m)
      .withColumn("_hl_lg", Unigram.log2q8(lit(m) - col("_hl_v")))
    g.withColumn("est",
        when(col("_hl_v") < m && col("_hl_raw") * 2L <= 5L * m,
          expr(s"(${m}L * (${p * 256}L - _hl_lg) * 726817L) div 268435456L"))
          .otherwise(col("_hl_raw")))
      .select((keyCols.map(col) :+ col("est")): _*)
  }
}
