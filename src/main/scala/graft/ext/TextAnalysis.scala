package graft.ext

import graft.{CacheTracker, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TextHash._

/** Text analysis operators for corpus curation: n-gram-marker language ID,
  * quality scoring, token counting, and document fingerprinting — all pure
  * `functions._` compositions (codegen'd), each with a DuckDB oracle.
  */
object TextAnalysis {
  private val EnMarkers = Seq("the", "a")
  private val DeMarkers = Seq("der", "das")
  private val FrMarkers = Seq("le", "la")
  private val Stopwords = Seq("the", "a", "of", "and")
  // PII patterns shared by the Spark builder AND the oracle SQL — one
  // definition, no drift (POSIX classes behave identically in Java and RE2)
  private val EmailRe = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
  private val PhoneRe = "[+][0-9]{2}-[0-9]{3}-[0-9]{4}"

  /** How [[contaminationScore]] ships the benchmark set to the corpus. */
  sealed trait ContamStrategy
  object ContamStrategy {
    /** Broadcast the exact distinct hash set — exact counts, shipped size
      * grows with the benchmark. */
    case object Exact extends ContamStrategy
    /** Compress the benchmark to a Bloom filter (k=3 arithmetic probe
      * bits in an m=8192-bit space): the shipped side is ≤ m bits no
      * matter how large the eval suite is, at the price of deterministic
      * (engine-reproducible) false positives — hits over-count, never
      * under-count. */
    case object Bloom extends ContamStrategy
    /** Size-based switch: count the benchmark's distinct hashes once
      * (driver-side action at build time, benchmark-scale work) and pick
      * [[Exact]] while it fits under `maxExactHashes`, [[Bloom]] past it
      * — users get the bounded plan automatically when the eval suite
      * outgrows a sane broadcast. */
    final case class Auto(maxExactHashes: Long = 1L << 20) extends ContamStrategy
  }

  /** Per-document benchmark-contamination score, ONE operator for both
    * shipping strategies: every corpus document is scored by the fraction
    * of its shingle hashes that appear in the benchmark set. Inputs are
    * (doc_id, h) shingle-hash rows (the [[Dedup.shingleHashDf]] shape) for
    * the corpus and the benchmark; output is (doc_id, n_shingles, n_hit,
    * contamination). Under [[ContamStrategy.Bloom]], n_hit counts Bloom
    * hits (≥ the exact count, deterministically).
    *
    * Plan shape, both strategies: the benchmark reduces to a broadcast
    * build side (exact hash set, or ≤8192 distinct bit positions), the
    * corpus streams through no-fanout broadcast joins, and the only
    * exchange is the per-document aggregate — nothing ever pairs
    * documents with documents, and the corpus never re-shuffles.
    */
  def contaminationScore(corpusSh: DataFrame, benchSh: DataFrame,
                         strategy: ContamStrategy = ContamStrategy.Auto()): DataFrame = {
    val bench = benchSh.select("h").distinct()
    // Auto's sizing count runs UNCACHED: the count and the chosen arm's
    // broadcast build are one benchmark-scale scan each either way, and a
    // cache here would be unreleasable by library callers (the Dataset is
    // internal to this method).
    val useExact = strategy match {
      case ContamStrategy.Auto(maxExact) => bench.count() <= maxExact
      case ContamStrategy.Exact          => true
      case ContamStrategy.Bloom          => false
    }
    if (useExact) {
        corpusSh
          .join(broadcast(bench.withColumn("hit", lit(1))), Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
               sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
               round(sum(coalesce(col("hit"), lit(0))).cast("double")
                 / count(lit(1)), 6).as("contamination"))
    } else scoreAgainstBloomBits(corpusSh, bloomBitsOf(bench))
  }

  /** Bloom geometry: m-bit space, k=3 probe positions derived
    * arithmetically from the one existing 48-bit shingle hash
    * (double-hashing) — no extra digest per row, and exact integer parity
    * with the SQL oracle. h is reduced mod 2^31-1 first so the affine
    * products fit a long.
    */
  private[ext] val BloomM = 8192
  private def bloomBitCol(i: Int, h: org.apache.spark.sql.Column) = {
    val (a, b) = MinhashPerms(i)
    ((h % Mersenne31) * a + b) % Mersenne31 % BloomM
  }

  /** The set-bit-position artifact of a benchmark shingle-hash set — the
    * ≤ m-row (≤ 64 KiB) driver-side form of the Bloom filter, and the
    * piece a production pipeline stores once per eval-suite release
    * ([[writeBloomBits]]/[[loadBloomBits]]) instead of re-scanning the
    * benchmark every decontamination run. ONE benchmark scan collects
    * them — all three probe positions explode off the same row (a
    * 3-select union would re-run the distinct bench scan per union
    * child); no cache (a library caller could never release it).
    */
  def bloomBits(benchSh: DataFrame): Seq[Long] =
    bloomBitsOf(benchSh.select("h").distinct())

  private def bloomBitsOf(bench: DataFrame): Seq[Long] = bench
    .select(explode(array((0 until 3).map(i => bloomBitCol(i, col("h"))): _*)).as("bit"))
    .distinct()
    .collect().map(_.getLong(0)).toSeq

  /** Persist the Bloom artifact (one `bit` column, ≤ m rows, one file). */
  def writeBloomBits(benchSh: DataFrame, dir: String): Unit = {
    val s = benchSh.sparkSession
    import s.implicits._
    bloomBits(benchSh).toDF("bit").coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  def loadBloomBits(s: SparkSession, dir: String): Seq[Long] =
    Tables.readParquet(s, dir).collect().map(_.getLong(0)).toSeq

  /** Score a corpus shingle stream against a (possibly at-rest) Bloom
    * bit-position artifact — the serving face of the
    * [[ContamStrategy.Bloom]] arm, shared with it so stored-artifact
    * decontamination cannot drift from the declared
    * q_text_bloom_decontam semantics. The 3 bit positions ride the
    * shingle row as columns and membership is 3 no-fanout broadcast
    * joins (bits are distinct).
    */
  def scoreAgainstBloomBits(corpusSh: DataFrame, bitsLocal: Seq[Long]): DataFrame = {
    val s = corpusSh.sparkSession
    import s.implicits._
    val marked = (0 until 3).foldLeft(
      corpusSh.select(col("doc_id") +:
        (0 until 3).map(i => bloomBitCol(i, col("h")).as(s"bit$i")): _*)) {
      (df, i) =>
        df.join(broadcast(bitsLocal.toDF("bit")
                  .select(col("bit").as(s"bit$i"), lit(1).as(s"set$i"))),
                Seq(s"bit$i"), "left")
    }
    marked
      .select(col("doc_id"),
        (coalesce(col("set0"), lit(0)) + coalesce(col("set1"), lit(0))
          + coalesce(col("set2"), lit(0)) === 3).cast("int").as("hit"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum("hit").cast("long").as("n_hit"),
           round(sum("hit").cast("double") / count(lit(1)), 6).as("contamination"))
  }

  private def inSetSql(e: String, set: Seq[String]): String =
    s"CASE WHEN $e IN (${set.map(w => s"'$w'").mkString(", ")}) THEN 1 ELSE 0 END"

  val queries: Seq[Q] = Seq(

    // ---- language ID: marker-token votes -> confusion matrix vs label ----
    Q("q_text_langid",
      s"""WITH t AS (
         |  SELECT doc_id, lang, unnest(${tokensSql("text")}) AS tok FROM documents
         |), sc AS (
         |  SELECT doc_id, lang,
         |    sum(${inSetSql("tok", EnMarkers)}) AS c_en,
         |    sum(${inSetSql("tok", DeMarkers)}) AS c_de,
         |    sum(${inSetSql("tok", FrMarkers)}) AS c_fr
         |  FROM t GROUP BY doc_id, lang
         |), p AS (
         |  SELECT lang,
         |    CASE WHEN c_en >= c_de AND c_en >= c_fr THEN 'en'
         |         WHEN c_de >= c_fr THEN 'de' ELSE 'fr' END AS pred
         |  FROM sc
         |)
         |SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred
         |ORDER BY lang, pred""".stripMargin) { (s, d) =>
      val sc = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "lang")
        .agg(
          sum(when(col("tok").isin(EnMarkers: _*), 1).otherwise(0)).as("c_en"),
          sum(when(col("tok").isin(DeMarkers: _*), 1).otherwise(0)).as("c_de"),
          sum(when(col("tok").isin(FrMarkers: _*), 1).otherwise(0)).as("c_fr"))
      sc.select(col("lang"),
          when(col("c_en") >= col("c_de") && col("c_en") >= col("c_fr"), "en")
            .when(col("c_de") >= col("c_fr"), "de").otherwise("fr").as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },

    // ---- quality scoring: token stats + stopword ratio + composite ----
    Q("q_text_quality",
      s"""SELECT doc_id, n_tokens,
         |  round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS avg_tok_len,
         |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         |  round(CAST(n_stop AS DOUBLE) / n_tokens * 0.5
         |        + least(n_tokens, 400) / 400.0 * 0.5, 6) AS quality
         |FROM (
         |  SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |    CAST(list_reduce(list_transform(toks, t -> len(t)), (x, y) -> x + y) AS BIGINT) AS tok_chars,
         |    CAST(list_reduce(list_transform(toks, t -> ${inSetSql("t", Stopwords)}), (x, y) -> x + y) AS BIGINT) AS n_stop
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)
         |) WHERE doc_id < 200 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          aggregate(transform(toks, t => length(t)), lit(0), (x, y) => x + y).cast("long").as("tok_chars"),
          aggregate(transform(toks, t => when(t.isin(Stopwords: _*), 1).otherwise(0)),
                    lit(0), (x, y) => x + y).cast("long").as("n_stop"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("tok_chars").cast("double") / col("n_tokens"), 6).as("avg_tok_len"),
          round(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
          round(col("n_stop").cast("double") / col("n_tokens") * 0.5
            + least(col("n_tokens"), lit(400)) / 400.0 * 0.5, 6).as("quality"))
        .orderBy("doc_id")
    },

    // ---- quality-ranked token-budget selection ----
    // The standard curation CUT: rank the whole corpus by quality (the
    // q_text_quality composite) and keep the best documents while the
    // RUNNING TOKEN TOTAL stays under budget — "take the top docs up to
    // B training tokens", which needs an exact prefix sum over a global
    // order. Runs through DistributedRank.cumSumDesc (two-level
    // distributed prefix aggregate: threshold groups + grouped running
    // windows + bounded weight-offset collect) — the oracle's
    // `sum() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` with NO
    // single-partition window. Ties on the 6dp quality score break by
    // doc_id in both engines.
    Q("q_sample_quality_budget",
      s"""WITH q AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    round(CAST(list_reduce(list_transform(toks, t -> ${inSetSql("t", Stopwords)}), (x, y) -> x + y) AS DOUBLE)
         |          / len(toks) * 0.5 + least(len(toks), 400) / 400.0 * 0.5, 6) AS quality
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)
         |),
         |c AS (
         |  SELECT doc_id, quality, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM q
         |)
         |SELECT doc_id, quality, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 18000 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      val scored = Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          round(aggregate(transform(toks, t => when(t.isin(Stopwords: _*), 1).otherwise(0)),
              lit(0), (x, y) => x + y).cast("double") / size(toks) * 0.5
            + least(size(toks), lit(400)) / 400.0 * 0.5, 6).as("quality"))
      graft.operators.DistributedRank
        .cumSumDesc(scored, "quality", "doc_id", "n_tokens", "cum_tokens")
        .filter(col("cum_tokens") <= 18000)
        .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    },

    // ---- token counting: global top-20 ----
    Q("q_text_tokens",
      s"""SELECT tok, count(*) AS n
         |FROM (SELECT unnest(${tokensSql("text")}) AS tok FROM documents)
         |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(20)
    },

    // ---- BPE-ish subword counting: letter runs / digit runs / single
    // punctuation, the pre-tokenization split every BPE-family tokenizer
    // applies before merges; same regex class semantics in both engines ----
    Q("q_text_tokens_bpe",
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok
        |  FROM documents
        |) GROUP BY tok ORDER BY n DESC, tok LIMIT 30""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(30)
    },

    // ---- deterministic train/val/test assignment: content-hash bucketing
    // (h48 % 100) gives a reproducible, engine-portable split — and because
    // the key is the TEXT, exact duplicates always land in the same split
    // (no train/test leakage through dups) ----
    Q("q_sample_split",
      s"""SELECT source, split, count(*) AS n FROM (
         |  SELECT source,
         |    CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT source, ${h48Sql("text")} % 100 AS pct FROM documents)
         |) GROUP BY source, split ORDER BY source, split""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), (h48(col("text")) % 100).as("pct"))
        .select(col("source"),
          when(col("pct") < 80, "train").when(col("pct") < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("source", "split").agg(count(lit(1)).as("n"))
        .orderBy("source", "split")
    },

    // ---- context-window chunking: split long documents into overlapping
    // token windows (size 64, stride 48). One generator expression per row
    // (sequence + transform over token slices) exploded to chunk rows —
    // per-document work, no shuffle until the output aggregate; the chunk
    // text is re-joined so downstream tokenizers see real strings ----
    Q("q_text_chunks",
      s"""SELECT doc_id, chunk_id,
         |  CAST(len(${tokensSql("chunk")}) AS BIGINT) AS n_tokens,
         |  md5(chunk) AS chunk_md5
         |FROM (
         |  SELECT doc_id, i AS chunk_id,
         |    array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
         |        WHERE text IS NOT NULL),
         |       LATERAL (SELECT unnest(range(0, greatest(1,
         |         CAST(ceil((len(toks) - 16) / 48.0) AS BIGINT)))) AS i)
         |) WHERE doc_id < 50 ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      val nChunks = greatest(lit(1),
        ceil((size(col("toks")) - lit(16)) / lit(48.0)).cast("long"))
      Tables.documents(s, d)
        // NULL text is excluded in BOTH engines: Spark's concat_ws would
        // launder a null slice into "" while DuckDB's array_to_string
        // propagates NULL — symmetric filtering beats divergent nulls
        .filter(col("doc_id") < 50 && col("text").isNotNull)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"),
          col("toks"))
        .select(col("doc_id"), col("chunk_id"),
          concat_ws(" ", slice(col("toks"),
            (col("chunk_id") * 48 + 1).cast("int"), lit(64))).as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(tokens(col("chunk"))).cast("long").as("n_tokens"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },

    // ---- repetition detection (Gopher-style quality rule): fraction of a
    // document's shingles taken by its single most-repeated 3-gram. High
    // ratios flag boilerplate/spam for removal before training ----
    Q("q_text_repetition",
      s"""SELECT doc_id,
         |  CAST(max(c) AS BIGINT) AS top_shingle_n,
         |  CAST(sum(c) AS BIGINT) AS n_shingles,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS rep_ratio
         |FROM (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 3)}) AS sh
         |    FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)
         |  ) GROUP BY doc_id, sh
         |) GROUP BY doc_id ORDER BY rep_ratio DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(shinglesFromTokens(tokens(col("text")), 3)).as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max("c").cast("long").as("top_shingle_n"),
             sum("c").cast("long").as("n_shingles"),
             round(max("c").cast("double") / sum("c"), 6).as("rep_ratio"))
        .orderBy(col("rep_ratio").desc, col("doc_id").asc)
        .limit(25)
    },

    // ---- duplicate n-gram fraction (the OTHER Gopher repetition rule):
    // fraction of a document's shingle OCCURRENCES that are repeats of an
    // earlier occurrence — sum(c-1)/sum(c) over per-shingle counts c.
    // Complements q_text_repetition's top-1-shingle mass: a doc cycling
    // through MANY distinct repeated phrases scores high here while its
    // top-1 ratio stays low. Same single shingle-aggregate plan shape;
    // the doc-level reduce is metadata-scale ----
    Q("q_text_dup_ngrams",
      s"""SELECT doc_id,
         |  CAST(sum(c - 1) AS BIGINT) AS n_dup,
         |  CAST(sum(c) AS BIGINT) AS n_shingles,
         |  round(CAST(sum(c - 1) AS DOUBLE) / sum(c), 6) AS dup_ratio
         |FROM (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 3)}) AS sh
         |    FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)
         |  ) GROUP BY doc_id, sh
         |) GROUP BY doc_id ORDER BY dup_ratio DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(shinglesFromTokens(tokens(col("text")), 3)).as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c") - 1).cast("long").as("n_dup"),
             sum("c").cast("long").as("n_shingles"),
             round(sum(col("c") - 1).cast("double") / sum("c"), 6).as("dup_ratio"))
        .orderBy(col("dup_ratio").desc, col("doc_id").asc)
        .limit(25)
    },

    // ---- sequence packing: concat-and-split batching, per shard. Each
    // shard's documents form one token stream (running total over doc_id
    // order) and a document lands in the batch where it STARTS
    // (floor(start_offset / 2048)) — the concat-then-chunk shape trainers
    // use; a doc longer than the budget spans batches, so ids may skip and
    // batch_tokens may exceed 2048 by up to one document. The window is
    // partitioned by shard — never a global single-partition sort; shards
    // scale out, packing stays local ----
    Q("q_pack_sequences",
      s"""SELECT shard, batch_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS batch_tokens
         |FROM (
         |  SELECT shard,
         |    CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS batch_id, n_tokens
         |  FROM (
         |    SELECT doc_id % 8 AS shard, n_tokens,
         |      sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |                          ROWS UNBOUNDED PRECEDING) AS cum
         |    FROM (SELECT doc_id, len(${tokensSql("text")}) AS n_tokens FROM documents)
         |  )
         |) GROUP BY shard, batch_id ORDER BY shard, batch_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
                size(tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .withColumn("batch_id",
          floor((col("cum") - col("n_tokens")) / lit(2048.0)).cast("long"))
        .groupBy("shard", "batch_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("batch_tokens"))
        .orderBy("shard", "batch_id")
    },

    // ---- stratified rebalancing: per-class deterministic downsampling.
    // The dominant class (en) keeps a hash-derived 40% while the rest pass
    // through — content-hash gating (not rand()) so the SAME rows are kept
    // on every engine, every run, and duplicate texts share a fate ----
    Q("q_sample_stratified",
      s"""SELECT lang, count(*) AS n_total,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM (
         |  SELECT lang, ${h48Sql("text")} % 100 <
         |    (CASE WHEN lang = 'en' THEN 40 ELSE 100 END) AS keep
         |  FROM documents
         |) GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          ((h48(col("text")) % 100) <
            when(col("lang") === "en", 40).otherwise(100)).as("keep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
             sum(when(col("keep"), 1).otherwise(0)).as("n_kept"))
        .orderBy("lang")
    },

    // ---- PII scrubbing: regex redaction with an audit count. The corpus
    // is synthetic, so deterministic emails/phones are woven in first and
    // the scrubber must remove exactly those; the same POSIX-class regexes
    // behave identically in Java and RE2/DuckDB ----
    Q("q_text_redact",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, '$EmailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(pii_text, '$PhoneRe')) AS INT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(pii_text, '$EmailRe', '<EMAIL>', 'g'),
         |                     '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@example.com or +49-555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_text
         |  FROM documents WHERE doc_id < 200
         |) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val piiText = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +49-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"), piiText.as("pii_text"))
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(pii_text, '$EmailRe', 0)")).as("n_emails"),
          size(expr(s"regexp_extract_all(pii_text, '$PhoneRe', 0)")).as("n_phones"),
          md5(regexp_replace(regexp_replace(col("pii_text"), EmailRe, "<EMAIL>"),
                             PhoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // ---- document fingerprint: min/max shingle hash + distinct shingles ----
    Q("q_text_fingerprint",
      s"""SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
         |  count(*) AS n_shingles
         |FROM (
         |  SELECT DISTINCT doc_id, h FROM (
         |    SELECT doc_id, ${h48Sql("sh")} AS h FROM (
         |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 5)}) AS sh
         |      FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)
         |    )
         |  )
         |) GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // distinct-then-count: one shuffle on (doc_id, h) instead of the
      // count(DISTINCT) Expand, and min/max are unaffected by the dedup.
      // spread (r18): the per-shingle md5 pipeline sits before the
      // distinct's exchange — the digest-heavy-pre-exchange rule (§2.5);
      // r17's notes listed this site as spread but the plan shows the
      // explode ran on the bare single-task scan
      Tables.spreadSmall(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), explode(shinglesFromTokens(tokens(col("text")), 5)).as("sh"))
        .select(col("doc_id"), h48(col("sh")).as("h"))
        .distinct()
        .groupBy("doc_id")
        .agg(min(col("h")).as("fp_min"), max(col("h")).as("fp_max"),
             count(lit(1)).as("n_shingles"))
        .orderBy("doc_id")
    },

    // ---- TF-IDF keyword extraction: top-5 terms per probe document ----
    // Term frequency explodes only the PROBE subset (doc_id < 40) while
    // document frequency aggregates the whole corpus — the asymmetric scan
    // a real keyword extractor needs: the big side is touched once, shuffled
    // by token, and AQE broadcasts the small tf side into the df join. The
    // score rounds to 6dp in both engines (ln is sub-ulp in Java and libm).
    Q("q_text_tfidf",
      s"""WITH tok AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE doc_id < 40 GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, tok, tf, df, score, CAST(rk AS INT) AS rk FROM (
         |  SELECT doc_id, tok, tf, df,
         |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) DESC, tok) AS rk
         |  FROM tf JOIN df USING (tok) CROSS JOIN n
         |) WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = tok.filter(col("doc_id") < 40)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfq = tok.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val score = round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)
      tf.join(dfq, "tok").crossJoin(broadcast(n))
        .withColumn("score", score)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("doc_id", "tok", "tf", "df", "score", "rk")
        .orderBy("doc_id", "rk")
    },

    // ---- benchmark-contamination check: shingle overlap vs a held set ----
    // Decontamination before training: every corpus document is scored by
    // the fraction of its distinct 5-gram shingles that appear anywhere in
    // the benchmark set (here: doc_id % 97 == 0 stands in for the eval
    // suite). Both this and q_text_bloom_decontam run through ONE operator,
    // [[contaminationScore]]; this entry uses the Auto strategy, which
    // resolves to the exact broadcast set while the benchmark is small
    // (always true at driver scale — the oracle is the exact variant) and
    // to the bounded Bloom plan past the size threshold.
    Q("q_text_contamination",
      s"""WITH sh AS (${Dedup.shingleHashFrom}),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0)
         |SELECT s.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS contamination
         |FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) s
         |LEFT JOIN bench b ON b.h = s.h
         |GROUP BY s.doc_id
         |ORDER BY contamination DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      val sh = Dedup.shingleHashDf(s, d).transform(CacheTracker.cached)
      contaminationScore(sh.filter(col("doc_id") % 97 =!= 0),
                         sh.filter(col("doc_id") % 97 === 0))
        .orderBy(col("contamination").desc, col("doc_id").asc)
        .limit(25)
    },

    // ---- Bloom-filter decontamination: bounded-size benchmark set ----
    // q_text_contamination broadcasts the benchmark's exact hash set,
    // which grows with the benchmark. This variant compresses it to a
    // Bloom filter — k=3 deterministic hash bits in an m=8192-bit space —
    // so the shipped side is <= m bits NO MATTER how large the eval suite
    // is, at the price of deterministic (same in both engines, hence
    // oracle-checkable) false positives. A corpus shingle counts as a hit
    // only when ALL 3 of its bit positions are set; per-document output
    // mirrors the exact variant, with bloom_hits >= the exact n_hit by
    // construction. Plan shape: the bit set is a <= m-row broadcast,
    // corpus shingles explode x3 to (shingle, bit) rows, and a
    // count==3 group per shingle replaces the membership join — still no
    // doc-doc pairing anywhere.
    Q("q_text_bloom_decontam", {
      val m = 8192
      // k=3 probe positions derived ARITHMETICALLY from the one existing
      // 48-bit shingle hash (double-hashing, the standard Bloom trick) —
      // no extra md5 per row, and exact integer parity across engines.
      // h is reduced mod 2^31-1 first so the affine products fit BIGINT.
      def bitSql(i: Int, e: String) = {
        val (a, b) = MinhashPerms(i)
        s"(((($e % $Mersenne31) * $a + $b) % $Mersenne31) % $m)"
      }
      val benchBits = (0 until 3).map(i =>
        s"SELECT DISTINCT ${bitSql(i, "h")} AS bit FROM bench")
        .mkString(" UNION ")
      s"""WITH sh AS (${Dedup.shingleHashFrom}),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
         |bits AS ($benchBits),
         |probe AS (
         |  SELECT doc_id, h, ${bitSql(0, "h")} AS bit0,
         |    ${bitSql(1, "h")} AS bit1,
         |    ${bitSql(2, "h")} AS bit2
         |  FROM sh WHERE doc_id % 97 <> 0
         |),
         |hits AS (
         |  SELECT p.doc_id,
         |    CASE WHEN b0.bit IS NOT NULL AND b1.bit IS NOT NULL
         |              AND b2.bit IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM probe p
         |  LEFT JOIN bits b0 ON b0.bit = p.bit0
         |  LEFT JOIN bits b1 ON b1.bit = p.bit1
         |  LEFT JOIN bits b2 ON b2.bit = p.bit2
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(hit) AS BIGINT) AS bloom_hits,
         |  round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS contamination
         |FROM hits GROUP BY doc_id
         |HAVING sum(hit) > 0
         |ORDER BY contamination DESC, doc_id LIMIT 25""".stripMargin
    }) { (s, d) =>
      // strategy PINNED to Bloom: this query's oracle models the filter's
      // deterministic false positives, which only the bloom plan produces
      val sh = Dedup.shingleHashDf(s, d).transform(CacheTracker.cached)
      contaminationScore(sh.filter(col("doc_id") % 97 =!= 0),
                         sh.filter(col("doc_id") % 97 === 0),
                         ContamStrategy.Bloom)
        .withColumnRenamed("n_hit", "bloom_hits")
        .filter(col("bloom_hits") > 0)
        .orderBy(col("contamination").desc, col("doc_id").asc)
        .limit(25)
    },

    // ---- corpus-LM scoring: bigram log-likelihood per document ----
    // The perplexity-proxy quality filter: a bigram language model is just
    // two count tables over the corpus (c(w1,w2) and its first-token
    // marginal), and each document scores by its mean log P(w2|w1). The
    // count tables are vocab-bounded (broadcastable / df-cappable at
    // 100 TB); the probe side explodes only the scored subset. Each log
    // prob is rounded to 9dp BEFORE a decimal sum, so the aggregate is
    // order-independent and hash-identical across engines.
    Q("q_text_lm_score",
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, sh[1] AS w1, sh[2] AS w2 FROM (
         |    SELECT doc_id, string_split(b, ' ') AS sh FROM (
         |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 2)}) AS b FROM toks
         |    )
         |  )
         |),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(sum(CAST(round(ln(CAST(c12 AS DOUBLE) / c1), 9) AS DECIMAL(20,9))) AS DOUBLE)
         |        / count(*), 6) AS avg_logprob
         |FROM (SELECT * FROM bg WHERE doc_id < 200) d
         |JOIN c12 USING (w1, w2)
         |JOIN c1 USING (w1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // scoring algebra lives in LmGate (the at-rest artifact face of this
      // query) — ONE definition for the declared query, the stored gate,
      // and the streaming admission path
      val docs = Tables.documents(s, d)
      val (c12, c1) = LmGate.countTablesShared(docs)
      LmGate.score(docs.filter(col("doc_id") < 200), c12, c1)
        .orderBy("doc_id")
    },

    // ---- add-one-smoothed LM scoring: OOV-robust serving ----
    // The serving-face variant of q_text_lm_score: every bigram gets a
    // defined probability (c12+1)/(c1+V) — V = first-token vocab size as
    // a 1-row scalar broadcast — so documents with novel bigrams score
    // LOW instead of dropping from the aggregate (the same OOV stance as
    // the BPE tokenizer's char-level fallback). LEFT joins keep the plan
    // identical to the MLE path: vocab-bounded build sides, one
    // per-document aggregate.
    Q("q_text_lm_smoothed",
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, sh[1] AS w1, sh[2] AS w2 FROM (
         |    SELECT doc_id, string_split(b, ' ') AS sh FROM (
         |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 2)}) AS b FROM toks
         |    )
         |  )
         |),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
         |v AS (SELECT count(*) AS vsz FROM c1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(sum(CAST(round(ln(CAST(coalesce(c12, 0) + 1 AS DOUBLE)
         |        / CAST(coalesce(c1, 0) + vsz AS DOUBLE)), 9) AS DECIMAL(20,9))) AS DOUBLE)
         |        / count(*), 6) AS avg_logprob
         |FROM (SELECT * FROM bg WHERE doc_id < 200) d
         |LEFT JOIN c12 USING (w1, w2)
         |LEFT JOIN c1 USING (w1)
         |CROSS JOIN v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (c12, c1) = LmGate.countTablesShared(docs)
      LmGate.scoreSmoothed(docs.filter(col("doc_id") < 200), c12, c1)
        .orderBy("doc_id")
    },

    // ---- CCNet-style perplexity bucketing over the corpus LM score ----
    // The canonical LM-filter ACTION: score every document against the
    // corpus bigram LM (the q_text_lm_score tables) and split the corpus
    // into head/middle/tail TERCILES of the score — CCNet trains on the
    // head, audits the middle, drops the tail. The (score, doc_id)
    // tie-break makes the boundary assignment deterministic in both
    // engines. Scale shape: the count tables are vocab-bounded; the
    // tercile split runs through [[operators.DistributedRank.ntileDesc]]
    // — a partition-parallel two-level rank (threshold groups + grouped
    // windows + bounded offset collect) that reproduces the oracle's
    // `ntile(3)` bit-for-bit with NO single-partition window or sort.
    Q("q_text_ppl_buckets",
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, sh[1] AS w1, sh[2] AS w2 FROM (
         |    SELECT doc_id, string_split(b, ' ') AS sh FROM (
         |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 2)}) AS b FROM toks
         |    )
         |  )
         |),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
         |scored AS (
         |  SELECT doc_id,
         |    round(CAST(sum(CAST(round(ln(CAST(c12 AS DOUBLE) / c1), 9) AS DECIMAL(20,9))) AS DOUBLE)
         |          / count(*), 6) AS avg_logprob
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         |  GROUP BY doc_id
         |)
         |SELECT doc_id, avg_logprob,
         |  CAST(ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS INT) AS bucket
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (c12, c1) = LmGate.countTablesShared(docs)
      val scored = LmGate.score(docs, c12, c1)
        .select(col("doc_id"), col("avg_logprob"))
      graft.operators.DistributedRank.ntileDesc(scored, "avg_logprob", "doc_id", 3)
        .select(col("doc_id"), col("avg_logprob"), col("bucket"))
        .orderBy("doc_id")
    },

    // ---- size-capped perplexity bucketing: the 100 TB model bound ----
    // q_text_ppl_buckets with the one unbounded piece bounded: the joint
    // count table is truncated to its top-500 bigrams by count (exact
    // deterministic top-N — (c12 DESC, w1||' '||w2) through
    // DistributedRank's partition-parallel rank, no single-partition
    // window), the marginal and smoothing vocabulary derive from the
    // TRUNCATED table, and scoring runs the add-one-smoothed OOV path so
    // truncated bigrams get a defined low probability instead of
    // dropping. The served model is therefore ≤ maxBigrams rows no matter
    // how large the corpus — both scoring joins broadcast at any scale —
    // which is the CCNet stance: cap the model, not the corpus. The
    // oracle replays the same cap with a row_number() window over the
    // same one-string tie-break key.
    Q("q_text_ppl_capped",
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, sh[1] AS w1, sh[2] AS w2 FROM (
         |    SELECT doc_id, string_split(b, ' ') AS sh FROM (
         |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 2)}) AS b FROM toks
         |    )
         |  )
         |),
         |c12full AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |c12 AS (
         |  SELECT w1, w2, c12 FROM (
         |    SELECT w1, w2, c12,
         |      row_number() OVER (ORDER BY c12 DESC, w1 || ' ' || w2) AS rn
         |    FROM c12full
         |  ) WHERE rn <= 500
         |),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
         |v AS (SELECT count(*) AS vsz FROM c1),
         |scored AS (
         |  SELECT doc_id,
         |    round(CAST(sum(CAST(round(ln(CAST(coalesce(c12, 0) + 1 AS DOUBLE)
         |          / CAST(coalesce(c1, 0) + vsz AS DOUBLE)), 9) AS DECIMAL(20,9))) AS DOUBLE)
         |          / count(*), 6) AS avg_logprob
         |  FROM bg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
         |  CROSS JOIN v
         |  GROUP BY doc_id
         |)
         |SELECT doc_id, avg_logprob,
         |  CAST(ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS INT) AS bucket
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (c12, c1) = LmGate.cappedTables(docs, 500)
      val scored = LmGate.scoreSmoothed(docs, c12, c1)
        .select(col("doc_id"), col("avg_logprob"))
      graft.operators.DistributedRank.ntileDesc(scored, "avg_logprob", "doc_id", 3)
        .select(col("doc_id"), col("avg_logprob"), col("bucket"))
        .orderBy("doc_id")
    },

    // ---- per-source (domain) quality gating ----
    // Curation decides at SOURCE granularity too: a domain whose aggregate
    // stopword ratio is far from natural language gets dropped wholesale.
    // All inputs are integer sums (exact in both engines); the single
    // ratio division is IEEE-exact. One explode + two hash aggregations —
    // the per-source state is one row per domain, trivially broadcastable
    // back against the corpus as an allowlist at any scale.
    Q("q_domain_quality",
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(n_stop) AS DOUBLE) / sum(n_tokens), 6) AS stop_ratio,
         |  CAST(sum(n_stop) AS DOUBLE) / sum(n_tokens) < 0.05 AS low_quality
         |FROM (
         |  SELECT source, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(list_reduce(list_transform(toks, t -> ${inSetSql("t", Stopwords)}), (x, y) -> x + y) AS BIGINT) AS n_stop
         |  FROM (SELECT source, ${tokensSql("text")} AS toks FROM documents)
         |) GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      Tables.documents(s, d)
        .select(col("source"),
          size(toks).cast("long").as("n_tokens"),
          aggregate(transform(toks, t => when(t.isin(Stopwords: _*), 1).otherwise(0)),
                    lit(0), (x, y) => x + y).cast("long").as("n_stop"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_tokens").as("total_tokens"),
             round(sum("n_stop").cast("double") / sum("n_tokens"), 6).as("stop_ratio"),
             (sum("n_stop").cast("double") / sum("n_tokens") < 0.05).as("low_quality"))
        .orderBy("source")
    },

    // ---- vocabulary building: top tokens by document frequency (df) and
    // raw term frequency (tf). The df/tf pair in ONE aggregate uses
    // Spark's mixed distinct/non-distinct Expand (2 rows per input) —
    // still a single shuffle on tok. Top-k via orderBy+limit compiles to
    // TakeOrderedAndProject (no global sort), so the plan holds when the
    // vocab has hundreds of millions of distinct tokens at 100 TB.
    Q("q_text_vocab",
      s"""SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS tf
         |FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents)
         |GROUP BY tok ORDER BY df DESC, tf DESC, tok LIMIT 100""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
        .orderBy(col("df").desc, col("tf").desc, col("tok").asc)
        .limit(100)
    },

    // ---- Count-Min-Sketch heavy hitters: bounded-memory frequency ----
    // The 100 TB alternative to exact vocabulary counting: d=3 hash rows of
    // w=1024 counters bound sketch state at 3·1024 longs NO MATTER the
    // vocabulary size (exact counting shuffles one row per distinct token —
    // web-scale vocabularies run to billions). Each row's counters are a
    // map-side-combined groupBy on h48(seed # tok) % w; a point estimate is
    // the MIN across rows, which can only OVER-count (collisions add) —
    // audited here against the exact counts for the true top-15: the
    // oracle-checked invariant est >= exact rides in the output. Hashes are
    // the deterministic shared h48, so both engines build the identical
    // sketch cell-for-cell.
    Q("q_text_cms_heavy", {
      val w = 1024
      def bSql(i: Int) = s"(${h48Sql(s"'r$i#' || tok")} % $w)"
      val cmsRows = (0 until 3).map(i =>
        s"SELECT $i AS r, ${bSql(i)} AS b, count(*) AS c FROM toks GROUP BY 2")
        .mkString(" UNION ALL ")
      s"""WITH toks AS (
         |  SELECT unnest(${tokensSql("text")}) AS tok FROM documents
         |),
         |cms AS ($cmsRows),
         |exact AS (
         |  SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok
         |  ORDER BY exact_n DESC, tok LIMIT 15
         |)
         |SELECT e.tok, e.exact_n, least(c0.c, c1.c, c2.c) AS cms_est
         |FROM exact e
         |JOIN cms c0 ON c0.r = 0 AND c0.b = (${h48Sql("'r0#' || e.tok")} % $w)
         |JOIN cms c1 ON c1.r = 1 AND c1.b = (${h48Sql("'r1#' || e.tok")} % $w)
         |JOIN cms c2 ON c2.r = 2 AND c2.b = (${h48Sql("'r2#' || e.tok")} % $w)
         |ORDER BY exact_n DESC, tok""".stripMargin
    }) { (s, d) =>
      val w = 1024
      // spread BEFORE the cache (r18): the unspread explode left the
      // cached token frame single-partition, so all four consumers (three
      // md5-per-token sketch aggregates + the exact top-15) ran their
      // per-row digest work on ONE core (§2.5)
      val toks = Tables.spreadSmall(Tables.documents(s, d), col("doc_id"))
        .select(explode(tokens(col("text"))).as("tok"))
        .transform(CacheTracker.cached) // sketch rows and the exact top-15 both scan it
      def bucket(i: Int, tok: org.apache.spark.sql.Column) =
        h48(concat(lit(s"r$i#"), tok)) % w
      val cms = (0 until 3).map { i =>
        toks.groupBy(bucket(i, col("tok")).as("b"))
          .agg(count(lit(1)).as("c")).withColumn("r", lit(i))
      }.reduce(_ unionByName _) // <= 3*1024 rows total
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok").asc).limit(15)
      (0 until 3).foldLeft(exact) { (df, i) =>
        df.join(broadcast(cms.filter(col("r") === i).select(col("b"), col("c").as(s"c$i"))),
                bucket(i, col("tok")) === col("b")).drop("b")
      }
        .select(col("tok"), col("exact_n"),
                least(col("c0"), col("c1"), col("c2")).as("cms_est"))
        .orderBy(col("exact_n").desc, col("tok").asc)
    },

    // ---- pointwise mutual information: bigram association mining ----
    // Church & Hanks (1990) PMI over adjacent token pairs — the classic
    // collocation statistic (which word pairs co-occur far above chance),
    // used in corpus curation to mine multiword expressions and to spot
    // templated/boilerplate pair inflation. PMI = ln(c12·N / (c1·c2)),
    // computed as a SUM OF LOGS in BOTH engines — the identical
    // expression tree keeps IEEE results in lockstep AND never forms the
    // c12·N product (which overflows BIGINT long before 100 TB). All
    // four inputs come from the one aggregated joint table (c1/c2/N are
    // marginals of c12, never a corpus re-explode); the min-count filter
    // prunes the vocab²-bounded table before any join.
    Q("q_text_pmi",
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, sh[1] AS w1, sh[2] AS w2 FROM (
         |    SELECT doc_id, string_split(b, ' ') AS sh FROM (
         |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 2)}) AS b FROM toks
         |    )
         |  )
         |),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
         |c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY w2),
         |n AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM c12)
         |SELECT w1, w2, c12,
         |  round(ln(CAST(c12 AS DOUBLE)) + ln(CAST(n AS DOUBLE))
         |        - ln(CAST(c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE)), 6) AS pmi
         |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
         |WHERE c12 >= 5
         |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (c12full, c1) = LmGate.countTablesShared(docs)
      val c2 = c12full.groupBy("w2").agg(sum("c12").as("c2"))
      val n = c12full.agg(sum("c12").as("n"))
      c12full.filter(col("c12") >= 5)
        .join(c1, Seq("w1"))
        .join(c2, Seq("w2"))
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c12"),
          round(log(col("c12").cast("double")) + log(col("n").cast("double"))
            - log(col("c1").cast("double")) - log(col("c2").cast("double")), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
        .limit(30)
    },

    // ---- interpolated Kneser–Ney LM scoring: the standard smoothing ----
    // The third serving face of the LmGate family (MLE q_text_lm_score,
    // add-one q_text_lm_smoothed, and now KN): probability mass is
    // discounted from observed joint counts and redistributed by how many
    // CONTEXTS a word continues (n1b) rather than its raw frequency — the
    // calibration that makes n-gram perplexity gates trustworthy on text
    // whose unigram frequencies are skewed by boilerplate. Algebra lives
    // in [[LmGate.scoreKneser]] (one definition for the declared query
    // and any stored-gate serving); same closed-world contract and
    // round-9/decimal-sum hash-stable aggregate as q_text_lm_score.
    Q("q_text_lm_kneser",
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, sh[1] AS w1, sh[2] AS w2 FROM (
         |    SELECT doc_id, string_split(b, ' ') AS sh FROM (
         |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 2)}) AS b FROM toks
         |    )
         |  )
         |),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
         |n1f AS (SELECT w1, count(*) AS n1f FROM c12 GROUP BY w1),
         |n1b AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY w2),
         |np AS (SELECT count(*) AS npairs FROM c12)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(sum(CAST(round(ln(
         |      greatest(CAST(c12 AS DOUBLE) - CAST(${LmGate.KnDiscount} AS DOUBLE), CAST(0 AS DOUBLE)) / c1
         |      + (CAST(${LmGate.KnDiscount} AS DOUBLE) * n1f / c1) * (CAST(n1b AS DOUBLE) / npairs)
         |    ), 9) AS DECIMAL(20,9))) AS DOUBLE) / count(*), 6) AS avg_logprob
         |FROM (SELECT * FROM bg WHERE doc_id < 200) d
         |JOIN c12 USING (w1, w2)
         |JOIN c1 USING (w1)
         |JOIN n1f USING (w1)
         |JOIN n1b USING (w2)
         |CROSS JOIN np
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (c12, c1) = LmGate.countTablesShared(docs)
      LmGate.scoreKneser(docs.filter(col("doc_id") < 200), c12, c1)
        .orderBy("doc_id")
    },

    // ---- the Kneser–Ney gate SERVED from the at-rest artifact ----
    // The full LmGate treatment for KN (what MLE and add-one already
    // have): the corpus (even ids) trains a SIZE-CAPPED KN gate whose
    // artifact lands on disk — top-500 joint counts, marginal OF the
    // capped table, tercile boundaries trained under the same scoring —
    // and an incoming batch (odd ids, full of bigrams the capped model
    // never saw) is scored + bucketed ENTIRELY from the stored tree via
    // [[LmGate.Gate.bucketed]]. Scoring is the OOV-robust interpolated
    // form ([[LmGate.scoreKneserSmoothed]]): unseen bigram → backoff term
    // only; unseen context → the add-one-smoothed continuation
    // probability — so no serving document drops. The continuation
    // tables n1f/n1b/(npairs, V2) are derived at serve time from the
    // STORED capped c12 (they are its marginals), which is exactly what
    // keeps the whole served model ≤ cap rows at any corpus size — every
    // scoring join broadcasts at 100 TB. The oracle re-derives the
    // capped tables, the continuation marginals, the corpus-trained
    // tercile cut pair, and the batch scores from the base table — so
    // the driver verifies the stored-KN serving path equals from-scratch
    // semantics (the artifact build itself is memoized per JVM+dataset,
    // the established write-once convention).
    Q("q_text_lm_kneser_served", {
      val knScore =
        s"""round(CAST(sum(CAST(round(ln(
           |    CASE WHEN c1 IS NOT NULL THEN
           |      greatest(CAST(coalesce(c12, 0) AS DOUBLE) - CAST(${LmGate.KnDiscount} AS DOUBLE),
           |               CAST(0 AS DOUBLE)) / c1
           |      + (CAST(${LmGate.KnDiscount} AS DOUBLE) * n1f / c1)
           |        * (CAST(coalesce(n1b, 0) + 1 AS DOUBLE) / (npairs + v2))
           |    ELSE CAST(coalesce(n1b, 0) + 1 AS DOUBLE) / (npairs + v2) END
           |  ), 9) AS DECIMAL(20,9))) AS DOUBLE) / count(*), 6)""".stripMargin
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, sh[1] AS w1, sh[2] AS w2 FROM (
         |    SELECT doc_id, string_split(b, ' ') AS sh FROM (
         |      SELECT doc_id, unnest(${shinglesFromTokensSql("toks", 2)}) AS b FROM toks
         |    )
         |  )
         |),
         |cbg AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
         |c12full AS (SELECT w1, w2, count(*) AS c12 FROM cbg GROUP BY w1, w2),
         |c12 AS (
         |  SELECT w1, w2, c12 FROM (
         |    SELECT w1, w2, c12,
         |      row_number() OVER (ORDER BY c12 DESC, w1 || ' ' || w2) AS rn
         |    FROM c12full
         |  ) WHERE rn <= 500
         |),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
         |n1f AS (SELECT w1, count(*) AS n1f FROM c12 GROUP BY w1),
         |n1b AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY w2),
         |scal AS (SELECT count(*) AS npairs, count(DISTINCT w2) AS v2 FROM c12),
         |corpus_scored AS (
         |  SELECT doc_id, $knScore AS s
         |  FROM cbg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
         |  LEFT JOIN n1f USING (w1) LEFT JOIN n1b USING (w2) CROSS JOIN scal
         |  GROUP BY doc_id
         |),
         |rkd AS (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
         |    count(*) OVER () AS total
         |  FROM corpus_scored
         |),
         |b1 AS (SELECT s AS bs, doc_id AS bi FROM rkd
         |       WHERE rk = (total // 3) + least(1, total % 3)),
         |b2 AS (SELECT s AS bs, doc_id AS bi FROM rkd
         |       WHERE rk = 2 * (total // 3) + least(2, total % 3)),
         |batch_scored AS (
         |  SELECT doc_id, $knScore AS s
         |  FROM (SELECT * FROM bg WHERE doc_id % 2 = 1)
         |  LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
         |  LEFT JOIN n1f USING (w1) LEFT JOIN n1b USING (w2) CROSS JOIN scal
         |  GROUP BY doc_id
         |)
         |SELECT b.doc_id, b.s AS avg_logprob,
         |  CAST(CASE WHEN b.s > b1.bs OR (b.s = b1.bs AND b.doc_id <= b1.bi) THEN 1
         |            WHEN b.s > b2.bs OR (b.s = b2.bs AND b.doc_id <= b2.bi) THEN 2
         |            ELSE 3 END AS INT) AS bucket
         |FROM batch_scored b CROSS JOIN b1 CROSS JOIN b2
         |ORDER BY b.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val root = StoredArtifacts.of(s"kn-gate|$d") { r =>
        LmGate.write(docs.filter(col("doc_id") % 2 === 0), r,
          mode = LmGate.Mode.Kneser, maxBigrams = 500)
      }
      LmGate.load(s, root)
        .bucketed(docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    }
  )
}
