package graft.ext

import graft.{CacheTracker, Q, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine BPE tokenizer training (SURVEY.md §2.I4 extension): the first
  * merge rounds of byte-pair encoding learned FROM the corpus, plus the
  * serving-path application of the learned merges — the tokenizer-training
  * step of an LLM data pipeline, run as relational operators.
  *
  * Shape (the one that survives 100 TB):
  *
  *   1. ONE corpus-size pass: whitespace tokens → word-frequency table.
  *      This is the only step that touches every byte; its shuffle is
  *      bounded by the VOCABULARY, not the corpus (classic word-count).
  *   2. Every training round then operates on the vocab-sized word table:
  *      adjacent symbol-pair counts weighted by word frequency → global
  *      argmax pair (ONE driver row per round — same bounded-collect
  *      pattern as the classifier's GD scalars) → merge applied to the
  *      word encodings. Real BPE trainers (e.g. the original Sennrich
  *      implementation) work on word-frequency tables for exactly this
  *      reason.
  *   3. Serving: the trained word table IS the lookup artifact — applying
  *      the tokenizer to the corpus is an equi-join against it (broadcast
  *      when the vocab fits, hash otherwise), never a re-derivation.
  *
  * The merge step is pure string algebra, identical in both engines: each
  * symbol of a word is wrapped in its OWN separator pair, so the sequence
  * [s1, s2, …] is encoded `SEP s1 SEP SEP s2 SEP …` and merging pair (a,b)
  * is `replace(enc, SEP a SEP SEP b SEP, SEP a b SEP)`. Both engines'
  * `replace` scans left-to-right over non-overlapping occurrences and
  * resumes AFTER the replacement, which reproduces BPE's greedy
  * left-to-right merge ("aaa" with pair (a,a) → "aa","a"). Because every
  * symbol owns BOTH of its delimiters, (1) a match never consumes a
  * neighbour's boundary, so adjacent occurrences all merge in one pass
  * ("abab" → "ab","ab"; "aaaa" → "aa","aa"), and (2) both ends of the
  * pattern are anchored — `a` must be a FULL symbol (closed by its SEP)
  * and so must `b`, so a word [x, ab] can never falsely match merge (x,a)
  * (the r-end false-positive the earlier leading-separator-only encoding
  * admitted). Ties on pair count break lexicographically in both engines.
  */
object Bpe {
  /** Symbol separator: a control char that tokenizable text never
    * contains. Tokens carrying it are excluded from training AND
    * application (both engines), so the algebra above can't be broken by
    * adversarial input.
    */
  val Sep = "\u0001"
  val Rounds = 4

  import TextHash.{tokens, tokensSql}

  /** The initial per-character encoding of a word: every char wrapped in
    * its own separator pair (`"ab"` → `SEP a SEP SEP b SEP`). Java's `(.)`
    * matches a full code point (surrogate pairs included), matching the
    * oracle's RE2 semantics — pinned by BpeSpec's astral-char test. The
    * `(?s)` flag makes `.` match line terminators too (tokens() splits on
    * spaces only, so real text tokens DO carry \n/\r): without it those
    * chars stayed un-wrapped, silently breaking the both-delimiters
    * invariant the merge algebra rests on — and Java and RE2 exclude
    * DIFFERENT terminator sets (\r only in Java), so the engines would
    * also diverge from each other.
    */
  def charEncode(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(w, "(?s)(.)", Sep + "$1" + Sep)

  /** Symbol array of an encoding: split on SEP and drop the empty slots
    * the double-separator scheme produces (`SEP a SEP SEP b SEP` splits to
    * ["", a, "", b, ""]).
    */
  def symsOf(enc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(enc, Sep), s => s =!= "")

  /** The merge rewrite of pair (l, r) as a (pattern, replacement) pair for
    * plain `replace`: both symbols fully delimited, the merged symbol
    * keeps its own delimiters.
    */
  private def mergeRule(l: String, r: String): (String, String) =
    (Sep + l + Sep + Sep + r + Sep, Sep + l + r + Sep)

  /** Word-frequency table with the initial per-character encoding. */
  def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("w"))
      .filter(!col("w").contains(Sep))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("enc", charEncode(col("w")))

  /** Adjacent symbol-pair counts over the (vocab-sized) word table:
    * pairs are (pos i, pos i+1) of the symbol array via two shifted
    * `slice` views zipped (the same no-capture shape as
    * TextHash.shinglesFromTokens).
    */
  def pairCounts(enc: DataFrame): DataFrame = {
    // materialize the symbol array ONCE per word (r18): the previous
    // shape re-ran the split+filter in the explode projection after the
    // size filter already computed it — Catalyst's subexpression
    // elimination is per-operator and does not bridge Filter→Project, so
    // every training round paid the split twice over the vocab
    val syms = col("syms")
    enc.select(col("freq"), symsOf(col("enc")).as("syms"))
      .filter(size(syms) >= 2)
      .select(col("freq"), explode(arrays_zip(
        slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1))).as("p"))
      .select(col("p.0").as("l"), col("p.1").as("r"), col("freq"))
      .groupBy("l", "r").agg(sum(col("freq")).cast("long").as("cnt"))
  }

  /** Train `rounds` merges; returns (merge table DF, final word table).
    * The merge table is the union of each round's engine-computed argmax
    * row; the per-round driver collect feeds the NEXT round's merge as a
    * literal (1 row/round — bounded like the GD gradient collects).
    *
    * A round with NO adjacent pairs left (corpus of 1-char words, or
    * rounds > learnable merges on a tiny vocab) STOPS training early and
    * returns the merges learned so far with the words table as-is. Note
    * the relational oracle's CTE chain degrades differently there (an
    * empty m_i empties e_i via the CROSS JOIN) — the declared queries
    * never hit the degenerate case, but library callers composing their
    * own oracle should not train past vocabulary exhaustion.
    *
    * Cache lifetime: the word table is cached internally (it is rescanned
    * every merge round AND backs the returned table). An enclosing
    * [[graft.CacheTracker.scope]] (the Verify / [[writeTokenizer]] path)
    * releases it when the consuming write finishes; a library caller
    * outside any scope should wrap the call in `CacheTracker.scope` once
    * the result is materialized, or accept the entry living until the
    * session's MEMORY_AND_DISK eviction. (Same contract for
    * [[trainBatched]].)
    */
  def train(docs: DataFrame, rounds: Int = Rounds): (DataFrame, DataFrame) = {
    var words = CacheTracker.cached(wordTable(docs))
    // merge rows accumulate as COLLECTED literals (like trainBatched), not
    // as per-round Datasets: a Dataset union would either re-run every
    // round's argmax job at consumption time or demand one cache entry per
    // merge — both wrong at production merge counts
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    (1 to rounds).foreach { i =>
      if (!exhausted) {
        val top = pairCounts(words)
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc).limit(1)
          .collect()
        top.headOption match {
          case None => exhausted = true
          case Some(row) =>
            val (l, r) = (row.getString(0), row.getString(1))
            val (pat, rep) = mergeRule(l, r)
            words = words.withColumn("enc",
              replace(col("enc"), lit(pat), lit(rep)))
            // periodic lineage cut (see trainBatched): at production merge
            // counts the chained-replace plan, not the vocab-sized data,
            // would dominate Catalyst re-analysis each round. The PRIOR
            // cut's blocks are freed eagerly (they are a leaf of the
            // pre-cut plan) — Dataset.unpersist would not touch them
            if (i % LineageCutEvery == 0 && i < rounds) {
              val beforeCut = words
              words = words.localCheckpoint(true)
              CacheTracker.releaseLocalCheckpoint(beforeCut)
            }
            out += ((i, l, r, row.getLong(2)))
        }
      }
    }
    val merges = out.result()
    require(merges.nonEmpty, "BPE training found no adjacent pairs at all — " +
      "corpus has no multi-character words")
    val s = docs.sparkSession
    import s.implicits._
    (merges.toDF("round", "left_sym", "right_sym", "pair_count").orderBy("round"),
      // the FINAL lineage-cut checkpoint (when one happened) backs the
      // returned frame: register it so the enclosing runner scope frees
      // its RDD blocks like every superseded cut — otherwise they outlive
      // the scope until ContextCleaner GC (no-op when no cut occurred or
      // outside a scope, where the caller owns the lifetime)
      CacheTracker.settled(words))
  }

  /** Batched training: up to `batchK` SYMBOL-DISJOINT merges per engine
    * round — the throughput path for production merge counts (10⁴–10⁵
    * merges), where [[train]]'s one-job-plus-one-collect PER MERGE is
    * driver-latency-bound. Each round runs ONE pair-count job, collects a
    * bounded 4·batchK candidate head, greedily selects by the same
    * (cnt DESC, l, r) order skipping any pair that (a) shares a symbol
    * with an earlier selection or (b) consumes a symbol an earlier
    * selection CREATES this round (its concatenation), then applies every
    * selected merge in one chained-replace projection, in selection order.
    *
    * Why the recorded counts stay honest: a merge rewrites only its own
    * two symbols and never creates adjacency between surviving neighbors,
    * so the pre-round count of a selected pair equals its true count at
    * its application position in the chain. The approximation relative to
    * [[train]] is only in the RANKING: sequential recounting could promote
    * a pair involving a symbol created mid-round (e.g. (ab,c) right after
    * (a,b)) above the next disjoint candidate; batching defers such pairs
    * to the next round's recount. `batchK = 1` selects exactly the global
    * argmax each round — bit-identical to [[train]].
    */
  def trainBatched(docs: DataFrame, totalMerges: Int = Rounds,
                   batchK: Int = 8): (DataFrame, DataFrame) = {
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    var words = CacheTracker.cached(wordTable(docs))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var done = 0
    var sinceCut = 0
    var exhausted = false
    while (done < totalMerges && !exhausted) {
      val want = math.min(batchK, totalMerges - done)
      val top = pairCounts(words)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(4 * want)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val created = scala.collection.mutable.Set.empty[String]
        val chosen = Seq.newBuilder[(String, String, Long)]
        var n = 0
        val it = top.iterator
        while (n < want && it.hasNext) {
          val row = it.next()
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          if (!used(l) && !used(r) && !created(l) && !created(r)) {
            used += l; used += r; created += (l + r)
            chosen += ((l, r, c)); n += 1
          }
        }
        val sel = chosen.result()
        var enc: org.apache.spark.sql.Column = col("enc")
        sel.foreach { case (l, r, _) =>
          val (pat, rep) = mergeRule(l, r)
          enc = replace(enc, lit(pat), lit(rep))
        }
        words = words.withColumn("enc", enc)
        sel.foreach { case (l, r, c) => done += 1; out += ((done, l, r, c)) }
        // lineage cut: each round chains `want` more replace()s onto the
        // word-table plan; past ~dozens of rounds Catalyst re-analysis of
        // the ever-deeper tree, not the vocab-sized data, dominates. A
        // periodic eager localCheckpoint materializes the (deterministic)
        // encodings and resets plan depth — same pattern as
        // ConnectedComponents' iteration cuts.
        // alignment by merges-since-last-cut, NOT done % LineageCutEvery:
        // one under-filled round (conflict-heavy candidate head selects
        // < batchK) would push `done` off every multiple and silently
        // disable cuts for the rest of training
        sinceCut += sel.size
        if (sinceCut >= LineageCutEvery && done < totalMerges) {
          val beforeCut = words
          words = words.localCheckpoint(true)
          CacheTracker.releaseLocalCheckpoint(beforeCut)
          sinceCut = 0
        }
      }
    }
    val merges = out.result()
    require(merges.nonEmpty, "BPE training found no adjacent pairs at all — " +
      "corpus has no multi-character words")
    val s = docs.sparkSession
    import s.implicits._
    (merges.toDF("round", "left_sym", "right_sym", "pair_count").orderBy("round"),
      // final-cut checkpoint registered for scope release (see train)
      CacheTracker.settled(words))
  }

  /** Merge count between lineage cuts in [[trainBatched]]: deep enough to
    * amortize the materialization, shallow enough that Catalyst analysis
    * of the chained-replace plan stays cheap.
    */
  val LineageCutEvery = 64

  /** Oracle CTE chain replaying the identical training relationally:
    * pc_i (pair counts) → m_i (argmax, LIMIT 1) → e_i (merge applied via
    * a 1-row CROSS JOIN — the scalar-broadcast shape).
    */
  private def trainingCtes(rounds: Int): String = {
    val perRound = (1 to rounds).map { i =>
      s"""p$i AS (SELECT ${symsSql(s"enc")} AS syms, freq FROM e${i - 1}),
         |pc$i AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM p$i, unnest(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2
         |),
         |m$i AS (SELECT l, r, cnt FROM pc$i ORDER BY cnt DESC, l, r LIMIT 1),
         |e$i AS (
         |  SELECT w,
         |    replace(enc, chr(1) || l || chr(1) || chr(1) || r || chr(1),
         |                 chr(1) || l || r || chr(1)) AS enc, freq
         |  FROM e${i - 1} CROSS JOIN m$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (SELECT ${tokensSql("text")} AS ts FROM documents),
       |w AS (
       |  SELECT t AS w, count(*) AS freq
       |  FROM (SELECT unnest(ts) AS t FROM toks)
       |  WHERE NOT contains(t, chr(1)) GROUP BY 1
       |),
       |e0 AS (SELECT w, regexp_replace(w, '(?s)(.)', chr(1) || '\\1' || chr(1), 'g') AS enc, freq FROM w),
       |$perRound""".stripMargin
  }

  /** Oracle-side mirror of [[symsOf]]: the symbol array of an encoding. */
  private def symsSql(encExpr: String): String =
    s"list_filter(string_split($encExpr, chr(1)), x -> x <> '')"

  /** Oracle CTE chain replaying [[trainBatched]]'s SELECTION RULE itself
    * for batchK = 2, unrolled per engine round: the candidate head is the
    * top 4·k = 8 pairs by (cnt DESC, l, r); the first selection is the
    * head argmax; the second is the best head pair sharing no symbol with
    * the first NOR consuming its concatenation; both merges apply in
    * selection order as a chained replace. This cross-engine-checks the
    * batched selection (head bound, disjointness filter, application
    * order) — not just the batchK=1 ≡ sequential property the spec pins.
    *
    * Degenerate rounds stay well-formed: when NO symbol-disjoint second
    * candidate exists (bb_j empty), the round applies only its argmax
    * (LEFT JOIN + CASE — an empty bb_j must not wipe the word table
    * through a CROSS JOIN), and the merge listing's `round` ordinals are
    * row_number over the selections actually made, matching
    * trainBatched's `done` counter per round. (A fixed 2-round unroll
    * cannot mirror the engine RUNNING EXTRA rounds to reach totalMerges
    * after an under-filled round — the declared corpus never under-fills;
    * library callers composing their own oracle share the constraint the
    * [[train]] CTE chain documents.)
    */
  private def batchedCtes(rounds: Int): String = {
    val perRound = (1 to rounds).map { j =>
      s"""bp$j AS (SELECT ${symsSql("enc")} AS syms, freq FROM eb${j - 1}),
         |bpc$j AS (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM bp$j, unnest(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2
         |),
         |bh$j AS (SELECT l, r, cnt FROM bpc$j ORDER BY cnt DESC, l, r LIMIT 8),
         |ba$j AS (SELECT l, r, cnt FROM bh$j ORDER BY cnt DESC, l, r LIMIT 1),
         |bb$j AS (
         |  SELECT h.l, h.r, h.cnt FROM bh$j h, ba$j a
         |  WHERE h.l <> a.l AND h.l <> a.r AND h.l <> (a.l || a.r)
         |    AND h.r <> a.l AND h.r <> a.r AND h.r <> (a.l || a.r)
         |  ORDER BY h.cnt DESC, h.l, h.r LIMIT 1
         |),
         |eb$j AS (
         |  SELECT w,
         |    CASE WHEN b.l IS NULL THEN
         |      replace(enc, chr(1) || a.l || chr(1) || chr(1) || a.r || chr(1),
         |                   chr(1) || a.l || a.r || chr(1))
         |    ELSE
         |      replace(
         |        replace(enc, chr(1) || a.l || chr(1) || chr(1) || a.r || chr(1),
         |                     chr(1) || a.l || a.r || chr(1)),
         |        chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1),
         |        chr(1) || b.l || b.r || chr(1))
         |    END AS enc, freq
         |  FROM eb${j - 1} CROSS JOIN ba$j a LEFT JOIN bb$j b ON true
         |)""".stripMargin
    }.mkString(",\n")
    s"""btoks AS (SELECT ${tokensSql("text")} AS ts FROM documents),
       |bw AS (
       |  SELECT t AS w, count(*) AS freq
       |  FROM (SELECT unnest(ts) AS t FROM btoks)
       |  WHERE NOT contains(t, chr(1)) GROUP BY 1
       |),
       |eb0 AS (SELECT w, regexp_replace(w, '(?s)(.)', chr(1) || '\\1' || chr(1), 'g') AS enc, freq FROM bw),
       |$perRound""".stripMargin
  }

  /** The serving projection of a trained word table: one row per word
    * with its post-merge symbol count. THE single definition — the
    * at-rest writer, the declared query, and the stream gate all derive
    * from it, so an encoding-scheme change cannot silently diverge them.
    */
  def vocabOf(words: DataFrame): DataFrame =
    words.select(col("w"), size(symsOf(col("enc"))).as("n_syms_tok"))

  /** The trained tokenizer AT REST, joining the at-rest artifact family
    * (DedupIndex / SubstringIndex / AnnIndex): the word table persists as
    * parquet and application never retrains. No bucket partitioning — a
    * document batch's tokens cover the vocabulary's hash space (same
    * regime the substring index documents at high fan), and the table is
    * broadcast-scale for real vocabularies anyway; the scan is one
    * columnar read of (w, n_syms).
    */
  def writeVocab(words: DataFrame, dir: String): Unit =
    vocabOf(words).write.mode("overwrite").parquet(dir)

  def loadVocab(s: SparkSession, dir: String): DataFrame = Tables.readParquet(s, dir)

  /** Apply a (possibly at-rest) vocab to documents: per-doc token and
    * post-merge symbol counts — the q_text_bpe_apply shape as a library
    * call.
    *
    * Out-of-vocabulary words FALL BACK to character-level symbols (one
    * base symbol per char, `length(w)`), the way a real BPE tokenizer
    * byte-falls-back on unseen input — a LEFT join + coalesce, so a
    * serving document with novel words keeps its full token AND symbol
    * counts instead of silently under-counting. (The learned merges
    * could in principle still compress an OOV word's char sequence; the
    * char-level count is the conservative upper bound and keeps serving
    * a single equi-join — no per-row merge replay on the hot path.)
    */
  def applyVocab(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(!col("w").contains(Sep))
      .join(vocab, Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(coalesce(col("n_syms_tok"), length(col("w"))))
             .cast("long").as("n_syms"))

  /** Dense symbol-id table of a trained word table: one row per distinct
    * post-merge symbol, `sym_id` assigned by (corpus frequency DESC,
    * symbol ASC) — the id layout real tokenizers ship (frequent symbols
    * get small ids). Ranked via [[graft.operators.DistributedRank]], so
    * the vocabulary-sized sort is partition-parallel like every other
    * global rank in the engine.
    */
  def symbolIds(words: DataFrame): DataFrame = {
    val symFreq = words
      .select(explode(symsOf(col("enc"))).as("sym"), col("freq"))
      .groupBy("sym").agg(sum("freq").cast("long").as("sfreq"))
    graft.operators.DistributedRank
      .rankDesc(symFreq, "sfreq", "sym", "sym_id")
      .withColumn("sym_id", col("sym_id").cast("int"))
  }

  /** The char-fallback id page: single characters of the TRAINING corpus
    * that survive in no post-merge symbol table entry (every occurrence
    * merged away — e.g. after "ab" fully merges, neither bare "a" nor
    * bare "b" remains a symbol). They get the ids AFTER the main page
    * (V+1, V+2, … by corpus char frequency DESC, char ASC — the same
    * layout rule), so an at-rest tokenizer can id-encode ANY word
    * composed of training-corpus characters. Deterministic given the word
    * table; artifact-build-time only (the `count()` is a vocab-bounded
    * job).
    */
  def charPage(words: DataFrame): DataFrame = {
    val main = CacheTracker.cachedInScope(symbolIds(words))
    charPageFrom(words, main, main.count())
  }

  private def charPageFrom(words: DataFrame, main: DataFrame,
                           mainCount: Long): DataFrame = {
    val charFreq = words
      .select(explode(symsOf(charEncode(col("w")))).as("sym"), col("freq"))
      .groupBy("sym").agg(sum("freq").cast("long").as("sfreq"))
    val missing = charFreq.join(main.select("sym"), Seq("sym"), "left_anti")
    graft.operators.DistributedRank
      .rankDesc(missing, "sfreq", "sym", "sym_id")
      .withColumn("sym_id", (col("sym_id") + lit(mainCount)).cast("int"))
  }

  /** Main symbol page plus the char-fallback page — the id table the
    * at-rest tokenizer persists. The main page is ranked ONCE (cached)
    * and shared by the union, the char page's anti-join, and its id
    * offset.
    */
  def fullSymbolIds(words: DataFrame): DataFrame = {
    val main = CacheTracker.cachedInScope(symbolIds(words))
    main.unionAll(charPageFrom(words, main, main.count()))
  }

  /** Reserved id for a symbol the id table cannot resolve even at char
    * level (a serving character never seen in training) — the UNK slot
    * real tokenizers reserve. All trained ids start at 1
    * (DistributedRank is 1-based), so 0 is free.
    */
  val UnkId = 0

  /** ENCODE documents to dense token-id sequences — the materialized
    * serving output of the tokenizer (ids, not just counts): per document
    * the concatenation, in text order, of each word's post-merge symbol
    * ids. Out-of-vocabulary words FALL BACK to their character sequence
    * (mirroring [[applyVocab]]'s count fallback, at the id level): the
    * word decomposes via [[charEncode]] and each char joins the id table;
    * chars the table doesn't carry either resolve to [[UnkId]]. The id
    * sequence therefore always keeps its full length — no silent drops.
    * ([[symbolIds]] alone covers post-merge symbols; the at-rest
    * tokenizer's table ([[fullSymbolIds]]) additionally carries the char
    * page, so every training-corpus character has a real id.)
    *
    * Plan shape: two positional explodes (token pos, symbol pos), two
    * vocab-bounded LEFT equi-joins (word → encoding, symbol → id), one
    * per-document aggregate that sorts the (tpos, spos, id) triples —
    * order reconstruction is a per-group array_sort, never a window.
    */
  def encode(docs: DataFrame, words: DataFrame): DataFrame =
    encodeWith(docs, words, symbolIds(words))

  /** [[encode]] with an explicit (possibly at-rest) symbol-id table — the
    * serving path for a stored tokenizer, where the id assignment is part
    * of the frozen artifact rather than re-ranked per batch.
    */
  def encodeWith(docs: DataFrame, words: DataFrame, ids: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("tpos", "w")))
      .filter(!col("w").contains(Sep))
      .join(words.select("w", "enc"), Seq("w"), "left")
      .select(col("doc_id"), col("tpos"),
        posexplode(symsOf(coalesce(col("enc"), charEncode(col("w")))))
          .as(Seq("spos", "sym")))
      .join(ids.select("sym", "sym_id"), Seq("sym"), "left")
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("tpos"), col("spos"),
          coalesce(col("sym_id"), lit(UnkId)).as("sym_id")))),
        x => x.getField("sym_id")).as("token_ids"))

  /** The FULL tokenizer artifact at rest: the trained word table with its
    * encodings (`words.parquet`) plus the dense symbol-id table
    * (`syms.parquet`) — everything [[encodeWith]] and [[applyVocab]] need,
    * so id-level serving never retrains AND the id assignment is frozen
    * with the artifact (a later batch re-ranking frequencies could not
    * silently renumber the vocabulary). [[writeVocab]] remains the
    * counts-only artifact for the admission gate. Symbol ids are computed
    * from the PERSISTED word table, so the stored pair is exactly what
    * serving reads.
    */
  def writeTokenizer(words: DataFrame, dir: String): Unit =
    // terminal writer: scope the symbol-rank caches (see LmGate.write)
    graft.CacheTracker.scope {
      words.select("w", "enc", "freq")
        .write.mode("overwrite").parquet(s"$dir/words.parquet")
      val s = words.sparkSession
      fullSymbolIds(Tables.readParquet(s, s"$dir/words.parquet"))
        .write.mode("overwrite").parquet(s"$dir/syms.parquet")
    }

  /** Load a stored tokenizer: (word table, symbol-id table). */
  def loadTokenizer(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (Tables.readParquet(s, s"$dir/words.parquet"), Tables.readParquet(s, s"$dir/syms.parquet"))

  /** DECODE id sequences back to text (one space-joined token stream per
    * document) — the inverse of [[encodeWith]] over the same id table.
    * BPE merges never cross token boundaries here (the separator encoding
    * guarantees it), but the id sequence alone does not mark where one
    * token ends and the next begins, so decode reconstructs the SYMBOL
    * stream and re-splits on nothing: the output is the concatenation of
    * symbols, which equals the original token stream with inter-token
    * spaces dropped. For inspection pipelines that need exact token
    * round-trips, [[encodeWith]]'s (tpos, spos) shape is the lossless
    * form; this is the flat-text view. Plan: one positional explode +
    * one id-table equi-join + per-document ordered array_sort — the
    * mirror of encode.
    */
  def decode(encoded: DataFrame, ids: DataFrame): DataFrame =
    encoded.select(col("doc_id"), posexplode(col("token_ids")).as(Seq("pos", "sym_id")))
      .join(ids.select("sym", "sym_id"), Seq("sym_id"), "left")
      .groupBy("doc_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("pos"),
          // UnkId (and any unresolvable id) renders as the Unicode
          // replacement char, keeping decode total and length-faithful
          coalesce(col("sym"), lit("\uFFFD")).as("sym")))),
        x => x.getField("sym"))).as("text"))

  val queries: Seq[Q] = Seq(

    // ---- BPE merge training: the learned merges themselves ----
    Q("q_text_bpe_merges", {
      val sel = (1 to Rounds).map(i =>
        s"SELECT $i AS round, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m$i")
        .mkString("\nUNION ALL ")
      s"""WITH ${trainingCtes(Rounds)}
         |SELECT * FROM ($sel) ORDER BY round""".stripMargin
    }) { (s, d) =>
      train(Tables.documents(s, d))._1
    },

    // ---- batched training: the k>1 selection rule cross-engine checked ----
    // Two engine rounds of batchK=2 (4 merges): the oracle unrolls the
    // candidate head, the symbol-disjoint greedy pick, and the in-order
    // chained application per round. Merge ordinals are global (1..4),
    // like trainBatched's `done` counter.
    Q("q_text_bpe_batched", {
      val sel = (1 to 2).flatMap(j => Seq(
        s"SELECT $j AS j, 1 AS pick, l AS left_sym, r AS right_sym, cnt AS pair_count FROM ba$j",
        s"SELECT $j AS j, 2 AS pick, l AS left_sym, r AS right_sym, cnt AS pair_count FROM bb$j"))
        .mkString("\nUNION ALL ")
      s"""WITH ${batchedCtes(2)}
         |SELECT CAST(row_number() OVER (ORDER BY j, pick) AS INT) AS round,
         |  left_sym, right_sym, pair_count
         |FROM ($sel) ORDER BY round""".stripMargin
    }) { (s, d) =>
      trainBatched(Tables.documents(s, d), totalMerges = 4, batchK = 2)._1
    },

    // ---- serving path: trained vocab applied to the corpus by lookup ----
    // Compression audit per document: token count and post-merge symbol
    // count. The trained word table is the tokenizer artifact — application
    // is one equi-join against it (vocab-sized build side), NOT a re-walk
    // of the merge algebra per document.
    Q("q_text_bpe_apply",
      s"""WITH ${trainingCtes(Rounds)}
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(coalesce(len(${symsSql(s"e$Rounds.enc")}), len(w))) AS BIGINT) AS n_syms
         |FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents) d
         |LEFT JOIN e$Rounds USING (w)
         |WHERE NOT contains(w, chr(1))
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      applyVocab(docs, vocabOf(train(docs)._2)).orderBy("doc_id")
    },

    // ---- tokenizer fertility audit: symbols-per-token by corpus slice ----
    // The standard tokenizer-quality report a training pipeline runs
    // before committing to a vocab: per document SOURCE, how many
    // post-merge symbols the tokenizer spends per token (fertility; lower
    // = better compression on that slice). A slice with outlier fertility
    // flags a domain the merges never learned (or an OOV-heavy crawl) —
    // the signal that drives per-domain vocab retraining. Plan: the
    // applyVocab equi-join, a doc_id equi-join back to (doc_id, source),
    // ONE source-keyed hash aggregate (output = |sources| rows).
    Q("q_text_bpe_stats",
      s"""WITH ${trainingCtes(Rounds)},
         |per_doc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(coalesce(len(${symsSql(s"e$Rounds.enc")}), len(w))) AS BIGINT) AS n_syms
         |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents) d
         |  LEFT JOIN e$Rounds USING (w)
         |  WHERE NOT contains(w, chr(1))
         |  GROUP BY doc_id
         |)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(p.n_syms) AS BIGINT) AS total_syms,
         |  round(CAST(sum(p.n_syms) AS DOUBLE) / sum(p.n_tokens), 6) AS fertility
         |FROM per_doc p JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      applyVocab(docs, vocabOf(train(docs)._2))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_tokens").cast("long").as("total_tokens"),
             sum("n_syms").cast("long").as("total_syms"),
             round(sum("n_syms").cast("double") / sum("n_tokens"), 6).as("fertility"))
        .orderBy("source")
    },

    // ---- serving path: materialized token-id sequences ----
    // The actual tokenizer OUTPUT a training pipeline materializes: dense
    // symbol ids (frequency-ranked, small ids = frequent symbols) and each
    // document's id sequence in text order. Oracle replays the id
    // assignment with a window row_number and rebuilds order with a
    // list(... ORDER BY) aggregate; the engine side is two vocab-bounded
    // equi-joins + a per-document array_sort — no window over the corpus.
    // Probe restricted to doc_id < 100 (like q_text_lm_score) to keep the
    // dumped result bounded; training reads the full corpus. The DECLARED
    // column is the comma-joined id sequence (a sortable scalar — the
    // driver's canonicalizer cannot hash array cells); the library
    // `encode` keeps returning the real array<int>.
    Q("q_text_bpe_encode",
      s"""WITH ${trainingCtes(Rounds)},
         |sym AS (
         |  SELECT s AS sym, CAST(sum(freq) AS BIGINT) AS sfreq
         |  FROM (SELECT unnest(${symsSql("enc")}) AS s, freq FROM e$Rounds)
         |  GROUP BY 1
         |),
         |sid AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sfreq DESC, sym) AS INT) AS sym_id
         |  FROM sym
         |),
         |tok AS (
         |  SELECT doc_id, unnest(toks) AS w, unnest(range(1, len(toks) + 1)) AS tpos
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents WHERE doc_id < 100)
         |),
         |ts AS (
         |  SELECT doc_id, tpos, unnest(syms) AS sym, unnest(range(1, len(syms) + 1)) AS spos
         |  FROM (
         |    SELECT doc_id, tpos, ${symsSql("enc")} AS syms
         |    FROM tok JOIN e$Rounds USING (w)
         |    WHERE NOT contains(w, chr(1))
         |  )
         |)
         |SELECT doc_id,
         |  array_to_string(list(sym_id ORDER BY tpos, spos), ',') AS token_ids
         |FROM ts JOIN sid USING (sym)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      encode(docs.filter(col("doc_id") < 100), train(docs)._2)
        .select(col("doc_id"),
          concat_ws(",", transform(col("token_ids"), x => x.cast("string")))
            .as("token_ids"))
        .orderBy("doc_id")
    },

    // ---- tokenizer DECODE: ids back to flat text, cross-engine ----
    // The inverse serving path: the same trained id table maps each id
    // sequence back to its symbol stream, concatenated in sequence order
    // (the flat-text view — inter-token spaces are not represented in the
    // id stream, so they don't come back). The oracle replays the FULL
    // encode→decode chain — id assignment, (tpos, spos)-ordered sequence,
    // then the id→symbol re-join and ordered string_agg — so the decode
    // algebra (not just "decode inverts encode" as a tautology) is
    // hash-checked across engines; the spec-local round-trip property in
    // BpeSpec becomes cross-engine here. Engine side: one positional
    // explode + one vocab-bounded equi-join + per-document array_sort —
    // the mirror of encode, no window over the corpus.
    Q("q_text_bpe_decode",
      s"""WITH ${trainingCtes(Rounds)},
         |sym AS (
         |  SELECT s AS sym, CAST(sum(freq) AS BIGINT) AS sfreq
         |  FROM (SELECT unnest(${symsSql("enc")}) AS s, freq FROM e$Rounds)
         |  GROUP BY 1
         |),
         |sid AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sfreq DESC, sym) AS INT) AS sym_id
         |  FROM sym
         |),
         |tok AS (
         |  SELECT doc_id, unnest(toks) AS w, unnest(range(1, len(toks) + 1)) AS tpos
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents WHERE doc_id < 100)
         |),
         |ts AS (
         |  SELECT doc_id, tpos, unnest(syms) AS sym, unnest(range(1, len(syms) + 1)) AS spos
         |  FROM (
         |    SELECT doc_id, tpos, ${symsSql("enc")} AS syms
         |    FROM tok JOIN e$Rounds USING (w)
         |    WHERE NOT contains(w, chr(1))
         |  )
         |),
         |idseq AS (
         |  SELECT doc_id, sym_id,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tpos, spos) AS pos
         |  FROM ts JOIN sid USING (sym)
         |)
         |SELECT doc_id, string_agg(sym, '' ORDER BY pos) AS text
         |FROM idseq JOIN sid USING (sym_id)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = train(docs)._2
      // the id table feeds TWO consumers (encode's sym join and decode's
      // sym_id join); uncached, the whole symbolIds pipeline — symbol
      // explode, aggregate, DistributedRank with its own bounded collects
      // — re-ran per consumer (r18, guide §5)
      val ids = CacheTracker.cachedInScope(symbolIds(words))
      decode(encodeWith(docs.filter(col("doc_id") < 100), words, ids), ids)
        .orderBy("doc_id")
    }
  )
}
