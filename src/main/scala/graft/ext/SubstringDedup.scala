package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring-level deduplication: find every maximal character span
  * that occurs (at least) twice across the corpus — the published
  * suffix-array ExactSubstr technique (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better", arXiv:2107.06499),
  * re-expressed as a Spark inverted-index plan instead of a single-machine
  * suffix array.
  *
  * Plan shape — ONE scan of the corpus, two shuffles, no joins:
  *
  *  1. window hashes — one codegen'd projection emits
  *     `(doc_id, pos, h1, h2)` for every window start, where h1/h2 hash
  *     the window CONTENT under two different effective seeds:
  *     `h1 = xxhash64(win)` (seed 42) and `h2 = xxhash64(lit(7), win)`
  *     (Spark's multi-arg xxhash64 seed-chains, so the content is hashed
  *     under seed H(7, 42)). Argument order is load-bearing:
  *     `xxhash64(win, lit(7))` would be H(7, seed = h1) — a deterministic
  *     function of h1, so every h1 collision would also collide h2 and
  *     the pair would be only 64-bit strong. With independent seeds the
  *     pair gives 128 effective bits: at 10¹² corpus windows the expected
  *     number of colliding window pairs is ≈ (10¹²)²/2¹²⁹ ≈ 10⁻¹⁵ — the
  *     "exact" claim survives scale. Only 16 bytes of hash leave the
  *     stage; the document text is never shuffled. (Any [[SubstringIndex]]
  *     tree persisted before this seed fix holds the chained h2 and must
  *     be regenerated — probes against it would miss everything.)
  *  2. duplicate marking — a hash AGGREGATE derives the duplicated-hash
  *     set D (map-side combined, no sort) and the cached position table
  *     semi-joins it. D holds only hashes that ARE duplicated — sparse in
  *     real corpora — so the join usually broadcasts and the position
  *     rows reach the span merge with no (h1, h2) exchange at all; at
  *     scale the planner falls back to a shuffled join, which is one
  *     exchange plus a hash probe. (r16 used window functions over
  *     (h1, h2) instead — one exchange but a full SORT of the position
  *     table inside WindowExec, measured as the family's dominant CPU in
  *     the r17 optimization pass; the agg ⋈ semi-join shape with the
  *     position table cached in scope beat it at every tested size.)
  *  3. span merge — one window per document: positions whose windows
  *     overlap or touch (gap ≤ k) coalesce into maximal spans via the
  *     classic lag/running-sum island trick.
  *
  * The DuckDB oracle keeps md5 as ITS window key — the comparison is on
  * results (spans), which agree unless a 128-bit hash collision occurs.
  *
  * Scale: the position table is O(total_chars / sample) rows of
  * (long, long, 16B) — the same asymptotic cost a suffix array pays, but
  * embarrassingly partitioned. At 100 TB run detection with `sample` s > 1:
  * windows are kept iff a hash of their CONTENT ≡ 0 (mod s) — the
  * winnowing/MOSS fingerprint-selection idea (Schleimer et al. 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting"). Because
  * selection depends only on window content, every copy of a duplicated
  * span selects the SAME windows — detection is alignment-invariant, which
  * a fixed positional stride is not (two copies at offsets differing by a
  * non-multiple of s would never align). A span with m = L − k + 1 windows
  * is missed only if none of its m content hashes ≡ 0 (mod s),
  * probability ≈ (1 − 1/s)^m — negligible for spans ≳ a few s. The
  * verify/extend step stays local to each doc. Boilerplate amplification
  * is bounded: a window repeated p times contributes p rows (posting
  * list), never p² — no self-join happens on `h`.
  *
  * The reference (cloud2sql) has no text curation surface; this extends
  * the LLM-pipeline family (SURVEY.md §2.I3).
  */
object SubstringDedup {

  /** Window width (chars) for the flagship query — spans shorter than K
    * cannot be detected, matching ExactSubstr's minimum-match-length knob.
    */
  val K = 32

  /** Resolve a caller-supplied merge gap: `-1` (the sentinel default)
    * means `k * sample`; any other negative is an error, and `0` is a
    * VALID minimal gap (merge only identical/adjacent starts) — the old
    * `> 0` sentinel test silently turned 0 into the default.
    */
  private[ext] def resolvedGap(mergeGap: Int, k: Int, sample: Int): Int = {
    require(mergeGap >= -1,
      s"mergeGap must be >= 0, or -1 for the default k*sample; got $mergeGap")
    if (mergeGap >= 0) mergeGap else k * sample
  }

  /** Static upper bound for the oracle's generate_series; any document
    * longer than this at oracle scale would make the oracle silently
    * incomplete, so keep it generously above testdata's max (~600 chars).
    */
  private val OracleMaxLen = 100000

  /** Scalar encoding base for (doc_id, pos) pairs: doc_id·PosEnc + pos is
    * strictly monotone lexicographic while pos < PosEnc (2⁴⁰ ≈ 1.1e12 —
    * string offsets cannot approach it), and the product stays well
    * inside decimal(38,0) for any long doc_id. Used to keep per-hash
    * first-occurrence aggregation hash-based (fixed-width buffer) rather
    * than a struct-min SortAggregate.
    */
  private val PosEnc = 1L << 40

  /** `(doc_id, pos, h1, h2)` — two independent 64-bit content hashes of
    * each k-char window starting at 1-based `pos`. With `sample` > 1,
    * keeps only windows with h1 ≡ 0 (mod sample) — content-defined, so
    * identical windows are kept or dropped identically in every document.
    * Documents shorter than k emit nothing (`sequence` would otherwise
    * descend for negative spans). Codegen computes the substring once for
    * both hashes (subexpression elimination).
    */
  private[graft] def windowHashes(docs: DataFrame, k: Int, sample: Int): DataFrame = {
    val win = col("text").substr(col("pos").cast("int"), lit(k))
    val all = graft.Tables.spreadSmall(docs, col("doc_id"))
      .filter(length(col("text")) >= k)
      .select(
        col("doc_id"),
        explode(sequence(lit(1L), (length(col("text")) - k + 1).cast("long"))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        xxhash64(win).as("h1"), xxhash64(lit(7), win).as("h2"))
    if (sample == 1) all
    else all.filter(pmod(col("h1"), lit(sample.toLong)) === 0)
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003): from each
    * per-document frame of `w` consecutive window hashes, keep the
    * lexicographic minimum (h1, pos, h2) — ties to the leftmost position.
    * Every frame fully inside a duplicated span selects that span's
    * minimal k-gram, which is the SAME CONTENT in every copy, so any span
    * of length ≥ k + w − 1 (≥ w windows ⇒ ≥ 1 interior frame) is
    * fingerprinted identically in all copies: a HARD detection guarantee,
    * vs mod-sampling's (1 − 1/s)^m miss probability.
    *
    * The price is one corpus-wide exchange on doc_id for the sliding-min
    * window (mod-sampling filters before any shuffle); the repeated frame
    * minima collapse in the map-side partial aggregate of the `distinct`,
    * so only ~1/w of positions reach the second exchange. Pick winnowing
    * when the guarantee matters, mod-sampling when the extra corpus pass
    * does.
    */
  private[graft] def winnowedHashes(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val frame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    windowHashes(docs, k, sample = 1)
      .withColumn("m", min(struct(col("h1"), col("pos"), col("h2"))).over(frame))
      .select(col("doc_id"), col("m.pos").as("pos"),
              col("m.h1").as("h1"), col("m.h2").as("h2"))
      .distinct()
  }

  /** [[duplicatedSpans]] over winnowed fingerprints: detects EVERY span of
    * length ≥ k + w − 1 at any alignment (deterministic — see
    * [[winnowedHashes]]); span extents are approximate like the sampled
    * mode (selected fingerprints inside a true span are ≤ w apart, so
    * islands merge at gap ≤ k + w, a deterministic bound where
    * mod-sampling's default is a tail estimate).
    */
  def duplicatedSpansWinnowed(docs: DataFrame, k: Int = K, w: Int = 8,
                              minDocs: Int = 2): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    require(minDocs > 0, "minDocs must be positive")
    spansFromHashes(winnowedHashes(docs, k, w), k, k + w, minDocs,
      Tables.broadcastRegime(docs))
  }

  /** Maximal duplicated spans: `(doc_id, span_start, span_end)` (1-based,
    * inclusive) for every character range covered by at least one window
    * whose content appears ≥2 times corpus-wide in ≥ `minDocs` distinct
    * documents. `minDocs = 1` also surfaces within-document repetition.
    *
    * `sample` > 1 is the corpus-scale mode (see object doc): span extents
    * become approximate (selected windows are ~`sample` apart inside a
    * true span), so islands merge at gap ≤ `mergeGap`, defaulting to
    * `k * sample` — ≈ P(gap > k·s) = (1−1/s)^{k·s} ≈ e^{−k} of adjacent
    * selected windows inside one true span splitting apart.
    */
  def duplicatedSpans(docs: DataFrame, k: Int = K, sample: Int = 1,
                      minDocs: Int = 2, mergeGap: Int = -1): DataFrame = {
    require(k > 0, "k must be positive")
    require(sample > 0, "sample must be positive")
    require(minDocs > 0, "minDocs must be positive")
    val gap = resolvedGap(mergeGap, k, sample)
    spansFromHashes(windowHashes(docs, k, sample), k, gap, minDocs,
      Tables.broadcastRegime(docs))
  }

  /** Duplicate marking + island merge over a prepared
    * `(doc_id, pos, h1, h2)` table — shared by the dense, mod-sampled and
    * winnowed selections.
    */
  private def spansFromHashes(pos: DataFrame, k: Int, gap: Int,
                              minDocs: Int, small: Boolean): DataFrame = {
    // Two physical shapes, switched on the input-size regime (r17,
    // guide §1.2/§3.1): small inputs take the agg + broadcast-semi-join
    // path (no sort anywhere; position table cached in scope for its two
    // consumers); large inputs keep the audited one-exchange window
    // shape — at 10× the "fallback" shuffled semi-join was measured 3×
    // WORSE than the window (515 MB position exchange + two sorts), so
    // the adaptive switch, not the join, is the scale story.
    val posC = if (small) graft.CacheTracker.cachedInScope(pos) else pos
    val hits =
      if (small) {
        // SMALL regime: hash aggregate derives the duplicated-hash set,
        // which broadcasts, so the position rows reach the span merge
        // with no (h1, h2) exchange and no sort at all
        val dupHashes = (minDocs match {
          case 1 =>
            posC.groupBy("h1", "h2").agg(count(lit(1)).as("cnt"))
              .filter(col("cnt") >= 2)
          case 2 =>
            // distinct docs ≥ 2 ⇔ min ≠ max (cheaper than a distinct count)
            posC.groupBy("h1", "h2")
              .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
              .filter(col("mn") =!= col("mx"))
          case m =>
            posC.groupBy("h1", "h2")
              .agg(countDistinct(col("doc_id")).as("nd"))
              .filter(col("nd") >= m)
        }).select("h1", "h2")
        posC.join(dupHashes, Seq("h1", "h2"), "leftsemi")
          .select("doc_id", "pos")
      } else {
        // LARGE regime: once the duplicated set outgrows broadcast, the
        // semi-join degrades to a sort-merge that exchanges AND sorts the
        // position table twice over (r17 measured 12× at 10×:
        // 515 MB position shuffle vs the window's in-place marking) —
        // keep the r16 one-exchange window shape here
        val byH = Window.partitionBy("h1", "h2")
        (minDocs match {
          case 1 =>
            pos.withColumn("cnt", count(lit(1)).over(byH))
              .filter(col("cnt") >= 2)
          case 2 =>
            pos.withColumn("mn", min(col("doc_id")).over(byH))
              .withColumn("mx", max(col("doc_id")).over(byH))
              .filter(col("mn") =!= col("mx"))
          case m =>
            val byHDoc = Window.partitionBy("h1", "h2").orderBy("doc_id")
            pos.withColumn("dr", dense_rank().over(byHDoc))
              .withColumn("nd", max(col("dr")).over(byH))
              .filter(col("nd") >= m)
        }).select("doc_id", "pos")
      }
    mergeSpans(hits, k, gap)
  }

  /** Island merge: `(doc_id, pos)` window starts → maximal
    * `(doc_id, span_start, span_end)` ranges, coalescing starts whose gap
    * is ≤ `gap`. Dense mode: windows overlap/touch iff start gap ≤ k
    * (interior windows of a true span sit at consecutive positions);
    * sampled mode merges at the looser content-defined gap bound.
    */
  private[graft] def mergeSpans(hits: DataFrame, k: Int, gap: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val brk = when(col("pos") - lag(col("pos"), 1).over(w) <= gap, 0).otherwise(1)
    hits
      .withColumn("brk", brk)
      .withColumn("g",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + k - 1).as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** Span-level decontamination: maximal spans of `corpus` documents whose
    * text appears VERBATIM (≥ k chars) anywhere in `probe` — the
    * substring-overlap eval-set check (exact-match decontamination as in
    * the ExactSubstr family), sharper than shingle-fraction contamination
    * scores: it returns the exact character ranges to cut.
    *
    * Same single-scan shape as [[duplicatedSpans]]: both sides' window
    * hashes union (probe rows carry a side flag), one window pass over
    * (h1, h2) marks corpus positions whose hash also occurs probe-side,
    * and the island merge emits ranges. The probe is typically tiny next
    * to the corpus, so the exchange is dominated by the corpus hash rows —
    * same asymptotics as self-dedup, and `sample` applies to both sides
    * symmetrically (content-defined selection keeps them consistent).
    */
  def crossCorpusSpans(corpus: DataFrame, probe: DataFrame, k: Int = K,
                       sample: Int = 1, mergeGap: Int = -1): DataFrame = {
    require(k > 0, "k must be positive")
    require(sample > 0, "sample must be positive")
    val gap = resolvedGap(mergeGap, k, sample)
    // corpus positions whose hash also occurs probe-side. Two regimes
    // (same switch as spansFromHashes): a small probe's distinct hash
    // set broadcasts and the corpus rows flow straight to the span merge
    // with no (h1, h2) exchange at all (guide §3.1); a large probe falls
    // back to the r16 union + window-tag shape — one exchange, one sort,
    // never a corpus-sized shuffled semi-join.
    val c0 = windowHashes(corpus, k, sample)
    val hits =
      if (Tables.broadcastRegime(probe)) {
        val p = windowHashes(probe, k, sample).select("h1", "h2").distinct()
        c0.join(p, Seq("h1", "h2"), "leftsemi")
          .select("doc_id", "pos")
      } else {
        val c = c0.withColumn("side", lit(0))
        val p = windowHashes(probe, k, sample).withColumn("side", lit(1))
        val byH = Window.partitionBy("h1", "h2")
        c.unionByName(p)
          .withColumn("hit", max(col("side")).over(byH))
          .filter(col("side") === 0 && col("hit") === 1)
          .select("doc_id", "pos")
      }
    mergeSpans(hits, k, gap)
  }

  /** Corpus self-dedup with keep-first semantics — the ExactSubstr paper's
    * actual training-data action: every duplicated region survives ONLY at
    * its first occurrence (least (doc_id, pos) corpus-wide) and is cut
    * everywhere else. One window pass: a position is cut iff its content
    * hash's `row_number` ordered by (doc_id, pos) exceeds 1 AND it does
    * not overlap the kept first occurrence's extent `[fp, fp + k)` in the
    * same document — without that guard, self-overlapping repeats (text
    * with period < k, e.g. periodic boilerplate) island-merge INTO the
    * first occurrence and destroy the one copy the contract promises to
    * keep. No counts, no joins (first_value rides the same ordered window
    * as row_number). Cut positions island-merge and [[trimSpans]] rebuilds
    * the text. Caveat, inherent to span-cutting: for period-p text with
    * p < k, only the k-gram phase starting at the kept position survives
    * intact — the other p−1 phases' grams overlap the cut tail.
    *
    * Returns `(doc_id, text_clean)` for the whole corpus (clean docs pass
    * through verbatim and never shuffle their text).
    */
  def selfDedupCut(docs: DataFrame, k: Int = K, sample: Int = 1,
                   mergeGap: Int = -1): DataFrame = {
    require(k > 0, "k must be positive")
    require(sample > 0, "sample must be positive")
    val gap = resolvedGap(mergeGap, k, sample)
    val pos = windowHashes(docs, k, sample)
    // Same two-regime switch as spansFromHashes (see there). SMALL: the
    // per-hash first occurrence as an AGGREGATE (min of the
    // (doc_id, pos) struct is exactly the (doc_id, pos)-ordered window's
    // first row) + broadcast join-back — no sort anywhere; hashes
    // occurring once are filtered out BEFORE the join. A row is cut iff
    // its hash is duplicated and it is not the first occurrence (rn > 1
    // ⇔ (doc_id, pos) ≠ (fd, fp), subsumed by the extent guard for
    // same-doc rows since fp < fp + k). pos intentionally UNCACHED: the
    // spread explode re-run is cheaper than the cache write+read (r17
    // A/B). LARGE: the r16 ordered-window shape — one exchange, one
    // sort, never a corpus-sized shuffled join.
    val cut =
      if (Tables.broadcastRegime(docs)) {
        // The per-hash first occurrence aggregates min over the encoded
        // scalar doc_id·2⁴⁰ + pos rather than min(struct(doc_id, pos)):
        // a struct-typed aggregation buffer is not hash-aggregatable, so
        // the struct form planned a SortAggregate — exchanging AND
        // sorting the full position table (r18 profile: a 40 MB position
        // shuffle + two Sorts inside the "no-sort" fast path; plans/r18
        // before/after). The decimal(38,0) buffer is fixed-width, so the
        // same aggregate now runs as a map-side-combined HashAggregate
        // and only per-hash partials reach the exchange. Encoding is
        // order-exact: pos ∈ [1, PosEnc) (positions are 1-based string
        // offsets, far under 2⁴⁰), so d·PosEnc + p is strictly monotone
        // in (doc_id, pos) for any long doc_id, and pmod decodes exactly.
        // doc_id decodes by integral `div` of the exact multiple f − pos,
        // not decimal division, whose result type follows
        // spark.sql.decimalOperations.allowPrecisionLoss.
        val firstOcc = pos.groupBy("h1", "h2")
          .agg(min(col("doc_id").cast("decimal(38,0)") * lit(PosEnc) + col("pos")).as("f"),
               count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2)
          .select(col("h1"), col("h2"),
                  expr(s"(f - pmod(f, $PosEnc)) div $PosEnc").as("fd"),
                  pmod(col("f"), lit(PosEnc)).cast("long").as("fp"))
        pos.join(firstOcc, Seq("h1", "h2"))
          .filter(!(col("fd") === col("doc_id") && col("pos") === col("fp")) &&
            !(col("fd") === col("doc_id") && col("pos") < col("fp") + k))
          .select("doc_id", "pos")
      } else {
        val byHOrd = Window.partitionBy("h1", "h2").orderBy("doc_id", "pos")
        pos
          .withColumn("rn", row_number().over(byHOrd))
          .withColumn("fd", first(col("doc_id")).over(byHOrd))
          .withColumn("fp", first(col("pos")).over(byHOrd))
          .filter(col("rn") > 1 &&
            !(col("fd") === col("doc_id") && col("pos") < col("fp") + k))
          .select("doc_id", "pos")
      }
    trimSpans(docs, mergeSpans(cut, k, gap))
  }

  /** Cut the given spans out of each document — the ACTIONABLE half of
    * decontamination / ExactSubstr dedup: feed it
    * [[crossCorpusSpans]] (cut every verbatim eval-set leak) or a
    * keep-one-copy selection of [[duplicatedSpans]]. Documents without
    * spans pass through verbatim.
    *
    * Relational, UDF-free: each span contributes the kept piece BEFORE it
    * (`lag` gives the previous span's end; spans are maximal ⇒ disjoint
    * and non-adjacent), a per-doc tail piece covers after the last span,
    * and the pieces re-concatenate in order. Work is O(#spans) rows plus
    * one join against the affected docs — the untouched corpus majority
    * never shuffles its text (LEFT join keeps it in place).
    */
  def trimSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    // r18: the span list has THREE consumers below (the mid pieces, the
    // tail pieces, and the affected-doc set) — uncached, the ENTIRE
    // upstream span derivation (windowHashes explode + duplicate marking
    // + island merge) re-ran once per consumer: q_dedup_substring_cut's
    // before plan carried 12 Generate nodes / 34 Exchanges for ONE
    // logical pipeline (plans/r18). The span list itself is tiny — one
    // row per duplicated region — so this is nothing like the
    // position-table cache r17 A/B'd and rejected (guide §5: cache when
    // reuse is real and recompute is expensive; both hold here).
    val sp = graft.CacheTracker.cachedInScope(spans)
    val w = Window.partitionBy("doc_id").orderBy("span_start")
    val mid = sp
      .withColumn("prev_end", coalesce(lag(col("span_end"), 1).over(w), lit(0L)))
      .select(col("doc_id"), (col("prev_end") + 1).as("a"),
              (col("span_start") - 1).as("b"))
    val tail = sp.groupBy("doc_id")
      .agg((max(col("span_end")) + 1).as("a"))
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("len")), Seq("doc_id"))
      .select(col("doc_id"), col("a"), col("len").as("b"))
    val pieces = mid.unionByName(tail).filter(col("a") <= col("b"))
    val glued = pieces
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), col("a"),
              col("text").substr(col("a").cast("int"), (col("b") - col("a") + 1).cast("int")).as("piece"))
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("a"), col("piece")))),
             x => x.getField("piece")), "").as("clean"))
    // a doc fully covered by spans has no pieces at all — it must come
    // back EMPTY, not fall through to its original text, so the affected
    // set (not the piece set) decides who gets rebuilt
    val rebuilt = sp.select("doc_id").distinct()
      .join(glued, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean"), lit("")).as("clean"))
    docs
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean"), col("text")).as("text_clean"))
  }

  /** Per-document duplication profile: how many duplicated spans, how many
    * characters they cover, and the covered fraction — the rank signal the
    * ExactSubstr paper cuts on (drop/trim docs that are mostly duplicated
    * text). LEFT join keeps clean documents with zero coverage. The
    * fraction is reported in parts-per-million via INTEGRAL division so the
    * Spark and DuckDB values are bit-identical (float `round` half-way
    * behavior differs between engines).
    */
  def duplicationProfile(docs: DataFrame, k: Int = K,
                         minDocs: Int = 2): DataFrame = {
    val spans = duplicatedSpans(docs, k, minDocs = minDocs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
           sum(col("span_end") - col("span_start") + 1).cast("long").as("dup_chars"))
    docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(spans, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        // nullif: an empty-text doc yields NULL in BOTH engines (bare
        // division would be NULL here but an error in DuckDB's `//`)
        expr("coalesce(dup_chars, 0L) * 1000000L div nullif(n_chars, 0L)").as("dup_ppm"))
  }

  private def oracleSpansSql(k: Int): String =
    s"""WITH pos AS (
       |  SELECT d.doc_id, t.i AS pos, md5(substr(d.text, t.i::int, $k)) AS h
       |  FROM documents d
       |  JOIN generate_series(1, $OracleMaxLen) t(i)
       |    ON t.i <= length(d.text) - $k + 1
       |),
       |dup AS (
       |  SELECT h FROM pos GROUP BY h
       |  HAVING count(*) >= 2 AND count(DISTINCT doc_id) >= 2
       |),
       |hits AS (SELECT p.doc_id, p.pos FROM pos p WHERE p.h IN (SELECT h FROM dup)),
       |${mergeSqlCtes(k)}
       |SELECT doc_id, span_start, span_end FROM spans""".stripMargin

  /** cpos/ppos/hits CTEs for the decontam pair: corpus-side window hashes
    * (doc_id % 7 ≠ 0), the probe slice's distinct hashes (doc_id % 7 = 0),
    * and the corpus positions whose hash leaks — shared verbatim by
    * q_text_decontam_spans and q_text_decontam_trim so the two oracles
    * cannot drift apart.
    */
  private def decontamHitsCtes(k: Int): String =
    s"""cpos AS (
       |  SELECT d.doc_id, t.i AS pos, md5(substr(d.text, t.i::int, $k)) AS h
       |  FROM documents d
       |  JOIN generate_series(1, $OracleMaxLen) t(i)
       |    ON t.i <= length(d.text) - $k + 1
       |  WHERE d.doc_id % 7 <> 0
       |),
       |ppos AS (
       |  SELECT DISTINCT md5(substr(d.text, t.i::int, $k)) AS h
       |  FROM documents d
       |  JOIN generate_series(1, $OracleMaxLen) t(i)
       |    ON t.i <= length(d.text) - $k + 1
       |  WHERE d.doc_id % 7 = 0
       |),
       |hits AS (SELECT c.doc_id, c.pos FROM cpos c WHERE c.h IN (SELECT h FROM ppos))""".stripMargin

  /** The incoming-batch id bound for q_text_decontam_stored: a NO-OP at
    * every testdata scale (all base doc_ids are far below it) and exactly
    * one synthesis copy under ScaleCheck's per-copy 1e7 doc_id offset —
    * so the scale instrument grows the INDEX while the probe batch stays
    * the production-shaped bounded ingest slice. An admission batch is
    * bounded by ingest cadence, never by corpus size: letting it grow
    * with the corpus at 100× both mis-models the operation AND breaks
    * the probe's broadcast contract (the DPP subquery collects the
    * batch's windows — a 100×-grown batch OOMs the driver, found live at
    * the 100-copy synthesis).
    */
  private val BatchIdBound = 10000000L

  /** The OPPOSITE probe direction to [[decontamHitsCtes]]: positions in
    * the INCOMING batch (doc_id % 7 = 0) whose window hash exists in the
    * ingested corpus (doc_id % 7 ≠ 0) — the admission-time contract
    * [[graft.ext.SubstringIndex.probe]] serves (cut the overlap out of a
    * new batch BEFORE it enters the corpus), where decontamHitsCtes is
    * the training-side cut. Shared by q_text_decontam_stored so the
    * oracle replays the whole thing from the base table while the Spark
    * face serves from the appended at-rest tree.
    */
  private def admissionHitsCtes(k: Int): String =
    s"""chash AS (
       |  SELECT DISTINCT md5(substr(d.text, t.i::int, $k)) AS h
       |  FROM documents d
       |  JOIN generate_series(1, $OracleMaxLen) t(i)
       |    ON t.i <= length(d.text) - $k + 1
       |  WHERE d.doc_id % 7 <> 0
       |),
       |bpos AS (
       |  SELECT d.doc_id, t.i AS pos, md5(substr(d.text, t.i::int, $k)) AS h
       |  FROM documents d
       |  JOIN generate_series(1, $OracleMaxLen) t(i)
       |    ON t.i <= length(d.text) - $k + 1
       |  WHERE d.doc_id % 7 = 0 AND d.doc_id < $BatchIdBound
       |),
       |hits AS (SELECT b.doc_id, b.pos FROM bpos b WHERE b.h IN (SELECT h FROM chash))""".stripMargin

  /** flagged→grp→spans island-merge CTEs (expects a `hits(doc_id, pos)`
    * CTE upstream) — the SQL mirror of [[mergeSpans]].
    */
  private def mergeSqlCtes(k: Int): String =
    s"""flagged AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $k
       |         THEN 0 ELSE 1 END AS brk
       |  FROM hits
       |),
       |grp AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
       |  FROM flagged
       |),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + $k - 1 AS span_end
       |  FROM grp GROUP BY doc_id, g
       |)""".stripMargin

  /** bounds→…→final-SELECT trim CTEs (expects a `spans` CTE upstream) —
    * the SQL mirror of [[trimSpans]]. `where` filters the emitted docs.
    */
  private def trimSqlTail(where: String): String =
    s"""bounds AS (
       |  SELECT doc_id, span_start, span_end,
       |    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) AS prev_end
       |  FROM spans
       |),
       |mid AS (SELECT doc_id, prev_end + 1 AS a, span_start - 1 AS b FROM bounds),
       |tails AS (
       |  SELECT s.doc_id, max(s.span_end) + 1 AS a, length(d.text) AS b
       |  FROM spans s JOIN documents d USING (doc_id)
       |  GROUP BY s.doc_id, length(d.text)
       |),
       |pieces AS (SELECT * FROM mid UNION ALL SELECT * FROM tails),
       |glued AS (
       |  SELECT p.doc_id,
       |    string_agg(substr(d.text, p.a::int, (p.b - p.a + 1)::int), '' ORDER BY p.a) AS clean
       |  FROM pieces p JOIN documents d USING (doc_id)
       |  WHERE p.a <= p.b GROUP BY p.doc_id
       |),
       |affected AS (SELECT DISTINCT doc_id FROM spans)
       |SELECT d.doc_id,
       |  CASE WHEN a.doc_id IS NULL THEN d.text ELSE coalesce(g2.clean, '') END AS text_clean
       |FROM documents d
       |LEFT JOIN affected a USING (doc_id)
       |LEFT JOIN glued g2 USING (doc_id)
       |$where
       |ORDER BY doc_id""".stripMargin

  val queries: Seq[Q] = Seq(
    // ---- maximal cross-document duplicated spans (ExactSubstr) ----
    Q("q_dedup_substring",
      s"""${oracleSpansSql(K)}
         |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      duplicatedSpans(Tables.documents(s, d)).orderBy("doc_id", "span_start")
    },

    // ---- per-document duplicated-character profile ----
    Q("q_dedup_substring_profile",
      s"""WITH spans AS (${oracleSpansSql(K)}),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_spans,
         |         CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars
         |  FROM spans GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |       coalesce(a.n_spans, 0) AS n_spans,
         |       coalesce(a.dup_chars, 0) AS dup_chars,
         |       coalesce(a.dup_chars, 0) * 1000000 // nullif(length(d.text), 0) AS dup_ppm
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      duplicationProfile(Tables.documents(s, d)).orderBy("doc_id")
    },

    // ---- span-level eval-set decontamination (exact substring overlap) ----
    // Benchmark = the doc_id % 7 == 0 held-out slice (the %97 slice used by
    // the shingle contamination queries shares no 32-char window with the
    // corpus at oracle scale, which would make this a trivial 0-row check).
    Q("q_text_decontam_spans",
      s"""WITH ${decontamHitsCtes(K)},
         |${mergeSqlCtes(K)}
         |SELECT doc_id, span_start, span_end FROM spans
         |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      crossCorpusSpans(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
        .orderBy("doc_id", "span_start")
    },

    // ---- admission-time decontam served from the APPENDED window index ----
    // The fourth at-rest index gets the same lifecycle row as the other
    // three: the ingested corpus (doc_id % 7 ≠ 0) lives ON DISK as the
    // SubstringIndex window-hash tree — its even half written, its odd
    // half INCREMENTALLY APPENDED (SubstringIndex.append: O(batch),
    // base files untouched, marker-refused under a mismatched
    // (k, sample, buckets) layout) — and an incoming batch (doc_id % 7
    // = 0) is probed against the merged tree: every verbatim ≥K-char
    // overlap with the stored corpus comes back as a maximal span to cut
    // BEFORE admission. Span merging is min/max aggregation over hit
    // positions, so keys the two ingest halves share cannot double-count
    // (the double-append case is spec-pinned). The oracle replays the
    // window hashing, the corpus membership, and the island merge from
    // the base table — a tree that lost appended windows, mis-bucketed
    // them, or served stale layout would miss or invent spans. Build is
    // memoized per JVM+dataset (write-once convention); timed reps
    // measure the pruned probe.
    Q("q_text_decontam_stored",
      s"""WITH ${admissionHitsCtes(K)},
         |${mergeSqlCtes(K)}
         |SELECT doc_id, span_start, span_end FROM spans
         |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val root = StoredArtifacts.of(s"substr-append|$d") { r =>
        SubstringIndex.write(corpus.filter(col("doc_id") % 2 === 0), r)
        SubstringIndex.append(corpus.filter(col("doc_id") % 2 =!= 0), r)
      }
      // the BatchIdBound keeps the probe batch production-shaped (bounded
      // ingest slice) while ScaleCheck grows the index — a no-op at every
      // testdata scale, see the constant's doc
      SubstringIndex.probe(SubstringIndex.load(s, root),
                           docs.filter(col("doc_id") % 7 === 0 &&
                                       col("doc_id") < BatchIdBound))
        .orderBy("doc_id", "span_start")
    },

    // ---- decontam from the COMPACTED + FAN-MIGRATED window tree ----
    // The maintenance face of q_text_decontam_stored: the same
    // write → append build, then the tree is compacted (collapsing the
    // appended part files and the duplicate window keys the two ingest
    // halves share) and rebucketed to a doubled fan — the exact knob the
    // probe-cost model above says to raise with corpus size, frozen at
    // write time until round 15. Same oracle as the stored row:
    // maintenance must be invisible to every probe, so a migration that
    // mis-derived a bucket or dropped windows would miss or invent spans
    // against the base-table replay. Old-fan probes are marker-refused
    // (IndexMaintenanceSpec); the swap is crash-safe (staging + promote,
    // heal at load).
    Q("q_text_decontam_maint",
      s"""WITH ${admissionHitsCtes(K)},
         |${mergeSqlCtes(K)}
         |SELECT doc_id, span_start, span_end FROM spans
         |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val fan2 = 2 * SubstringIndex.Buckets
      val root = StoredArtifacts.of(s"substr-maint|$d") { r =>
        SubstringIndex.write(corpus.filter(col("doc_id") % 2 === 0), r)
        SubstringIndex.append(corpus.filter(col("doc_id") % 2 =!= 0), r)
        SubstringIndex.compact(s, r)
        SubstringIndex.rebucket(s, r, K, 1, SubstringIndex.Buckets, fan2)
      }
      SubstringIndex.probe(SubstringIndex.load(s, root, buckets = fan2),
                           docs.filter(col("doc_id") % 7 === 0 &&
                                       col("doc_id") < BatchIdBound),
                           buckets = fan2)
        .orderBy("doc_id", "span_start")
    },

    // ---- the actionable cut: corpus text with every leaked range removed ----
    Q("q_text_decontam_trim",
      s"""WITH ${decontamHitsCtes(K)},
         |${mergeSqlCtes(K)},
         |${trimSqlTail("WHERE d.doc_id % 7 <> 0")}""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val probe = docs.filter(col("doc_id") % 7 === 0)
      trimSpans(corpus, crossCorpusSpans(corpus, probe)).orderBy("doc_id")
    },

    // ---- keep-first self-dedup: the ExactSubstr training-data action ----
    Q("q_dedup_substring_cut",
      s"""WITH pos AS (
         |  SELECT d.doc_id, t.i AS pos, md5(substr(d.text, t.i::int, $K)) AS h
         |  FROM documents d
         |  JOIN generate_series(1, $OracleMaxLen) t(i)
         |    ON t.i <= length(d.text) - $K + 1
         |),
         |rns AS (
         |  SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |    first_value(doc_id) OVER (PARTITION BY h ORDER BY doc_id, pos) AS fd,
         |    first_value(pos) OVER (PARTITION BY h ORDER BY doc_id, pos) AS fp
         |  FROM pos
         |),
         |hits AS (SELECT doc_id, pos FROM rns
         |         WHERE rn > 1 AND NOT (doc_id = fd AND pos < fp + $K)),
         |${mergeSqlCtes(K)},
         |${trimSqlTail("")}""".stripMargin) { (s, d) =>
      selfDedupCut(Tables.documents(s, d)).orderBy("doc_id")
    }
  )
}
