package graft.ext

import graft.{CacheTracker, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextHash._

/** Deduplication operators for large-scale corpus curation: exact hashing,
  * MinHash signatures + LSH band candidate pairs, SimHash + banded hamming
  * pairs, and n-gram Jaccard via a shingle inverted index.
  *
  * Scale design: nothing here materializes the O(n²) pair space. Candidate
  * generation is always an equi-join on a derived key (band hash / shingle),
  * so Spark plans it as a shuffled hash/sort-merge join that partitions by
  * the key; only hash-colliding candidates are scored.
  */
object Dedup {
  private[graft] val K = 5 // word-shingle width

  /** Document-frequency cap for the Jaccard inverted index: a shingle shared
    * by more than this many documents is boilerplate and is dropped BEFORE
    * the self-join. Without the cap one hot shingle with posting-list length
    * p contributes p² join rows — at 100 TB a single boilerplate phrase in
    * 10⁵ docs would emit 10¹⁰ pairs. With it, join fan-out is bounded by
    * MaxShingleDf² per shingle regardless of corpus size.
    */
  private val MaxShingleDf = 128

  // ---------- shared Spark-side builders ----------
  /** (doc_id, h): distinct 48-bit hashes of k-gram shingles per document.
    * Downstream joins/aggregates run on the 8-byte hash, never the shingle
    * string — an order of magnitude less shuffle IO at corpus scale.
    */
  private[ext] def shingleHashDf(s: SparkSession, d: String): DataFrame =
    shingleHash(Tables.documents(s, d))

  /** The (doc_id, h) distinct-shingle-hash pipeline over any
    * `(doc_id, text)` frame — the shared corpus/benchmark shape every
    * contamination consumer joins on ([[TextAnalysis.contaminationScore]],
    * [[CurationReport.report]]; SQL mirror: [[shingleHashFrom]]).
    */
  private[graft] def shingleHash(docs: DataFrame): DataFrame =
    Tables.spreadSmall(docs, col("doc_id"))
      .select(col("doc_id"), explode(shinglesFromTokens(tokens(col("text")), K)).as("sh"))
      .select(col("doc_id"), h48(col("sh")).as("h"))
      .distinct()

  /** (doc_id, sig_0..sig_7): minhash signature over shingle h31 hashes.
    *
    * One codegen'd explode straight into a hash aggregate: `distinct` is
    * unnecessary under `min` (a duplicate shingle cannot change a minimum),
    * so the shingle rows are never shuffled — HashAggregate's map-side
    * partial combine reduces each partition to ≤ 8 longs per document
    * before the exchange, making the only shuffle O(#docs), not
    * O(#shingles). (An all-array `transform`/`array_min` projection was
    * measured 2.8× slower here: higher-order functions evaluate
    * interpreted, outside whole-stage codegen, and the optimizer
    * duplicates the hash array into each consumer.)
    */
  private def minhashDf(s: SparkSession, d: String): DataFrame = {
    val h = Tables.spreadSmall(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), explode(shinglesFromTokens(tokens(col("text")), K)).as("sh"))
      .select(col("doc_id"), (h48(col("sh")) % Mersenne31).as("h"))
    val sigs = MinhashPerms.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % Mersenne31).as(s"sig_$i")
    }
    h.groupBy("doc_id").agg(sigs.head, sigs.tail: _*)
  }

  /** (doc_id, simhash, n_tokens): 32-bit frequency-weighted simhash.
    * `docFilter` is applied BEFORE tokenization so restricted variants
    * never explode the full corpus.
    */
  private def simhashDf(s: SparkSession, d: String,
                        docFilter: Column = lit(true)): DataFrame = {
    val tok = Tables.spreadSmall(Tables.documents(s, d).filter(docFilter), col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", h48(col("tok")))
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$j")
    }
    val agg = tok.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail :+ count(lit(1)).as("n_tokens"): _*)
    val sim = (0 until 32).map { j =>
      when(col(s"s_$j") > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("doc_id"), sim.cast("long").as("simhash"), col("n_tokens"))
  }

  /** ONE self equi-join over exploded (band, key) rows: all (doc_a <
    * doc_b) pairs agreeing on ANY band — a single shuffle instead of one
    * join per band re-scanning the input. Never an O(n²) comparison:
    * fan-out is bounded by per-(band, key) bucket occupancy. `banded`
    * must have columns (doc_id, band, key) plus any `carry` columns,
    * which ride along from both sides as `<c>_a`/`<c>_b`; callers should
    * `.cache()` it (both join sides read it).
    */
  private def bandedSelfJoin(banded: DataFrame, carry: Seq[String]): DataFrame = {
    def side(tag: String) = banded.select(
      col("doc_id").as(s"doc_$tag") +: col("band") +: col("key") +:
        carry.map(c => col(c).as(s"${c}_$tag")): _*)
    side("a").join(side("b"), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Content-defined chunks of (doc_id, text): one row per chunk with its
    * token count and 48-bit content hash. A chunk boundary falls BEFORE
    * token i exactly when the bigram hash h31(tok[i−1] ⧺ ' ' ⧺ tok[i]) lands
    * in the residue class ≡ 0 (mod 16) — expected chunk ≈ 16 tokens.
    * Because the rule reads only the two adjacent tokens, boundaries are a
    * LOCAL property of the text: the same paragraph chunks identically
    * wherever it appears (CdcChunkSpec pins the two selling points —
    * position invariance and single-token-edit locality). Scale shape: one
    * window partitioned by doc_id (lag + boundary prefix-sum), then a
    * per-(doc, chunk) aggregate on the SAME partitioning — no extra
    * exchange, no self-join.
    */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val tok = Tables.spreadSmall(docs, col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val chunked = tok
      .withColumn("prev", lag("tok", 1).over(w))
      .withColumn("chunk",
        sum(when(col("prev").isNotNull &&
                 h31(concat_ws(" ", col("prev"), col("tok"))) % 16 === 0, 1)
          .otherwise(0)).over(w))
    // chunk text reassembled in token order; the (doc_id, chunk) group
    // runs on the window's existing doc_id partitioning — no re-shuffle
    chunked.groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_toks"),
           h48(concat_ws(" ",
             transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
                       st => st.getField("tok")))).as("h"))
  }

  /** (doc_id, band, key): the minhash signature exploded to its 4 LSH
    * bands (2 signature rows per band, keyed as a struct) — the shared
    * index shape for pair generation AND incremental lookups.
    */
  private[graft] def mhBandedDf(s: SparkSession, d: String): DataFrame = {
    TextHash.requireTwoRowBandKey()
    minhashDf(s, d)
      .select(col("doc_id"), posexplode(array((0 until MinhashBands).map { b =>
        struct(col(s"sig_${2 * b}").as("k1"), col(s"sig_${2 * b + 1}").as("k2"))
      }: _*)).as(Seq("band", "key")))
  }

  /** Distinct (doc_a < doc_b) MinHash-LSH candidate pairs: 4 bands of
    * 2 signature rows each, keyed as a (k1, k2) struct.
    */
  private def minhashPairsDf(s: SparkSession, d: String): DataFrame = {
    val banded = mhBandedDf(s, d).transform(CacheTracker.cached)
    bandedSelfJoin(banded, Nil).select("doc_a", "doc_b").distinct()
  }

  /** (id, comp) cluster labels over ALL documents: transitive closure of
    * the MinHash-LSH candidate-pair graph, comp = min doc_id reachable.
    */
  private def clustersDf(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
    val edges = minhashPairsDf(s, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    graft.operators.ConnectedComponents.run(nodes, edges)
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected edge list (`doc_a < doc_b`, distinct). Compact-forward /
    * degree-ordered counting (Latapy 2008; Cohen's MapReduce variant
    * 2009): every edge is oriented from its lower-degree endpoint to its
    * higher-degree one ((deg, id) lexicographic — a TOTAL order, so
    * orientation is deterministic), a wedge self-join on the oriented
    * source enumerates each triangle's two "out" edges exactly once, and
    * the closing edge is matched by an equi-join on (y, z). The
    * orientation is what survives scale: a high-degree hub never fans out
    * — its edges all point INTO it, so the wedge join's per-key fan-out
    * is bounded by the max oriented out-degree (O(sqrt(m)) on any graph),
    * not by the hub degree. Both joins are equi-joins (the (deg, id)
    * comparison rides as a post-join filter on the wedge join); nothing
    * is quadratic in a node's neighborhood except through that bounded
    * out-degree.
    */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame = {
    // the pair list is usually the LSH candidate self-join — settle it
    // eagerly (localCheckpoint, released by the runner scope) or its
    // producer re-executes for every consumer below (both degree legs via
    // edges, plus both orientation joins). Checkpoint over cache() for
    // the same reason q_graph_pagerank measured (r7/r9, re-confirmed
    // r17): five downstream consumers of a small settled frame beat the
    // lazily-cached plan by ~30%.
    // CONTRACT (same as ConnectedComponents): when called inside a
    // CacheTracker scope, the returned frame must be CONSUMED before the
    // scope exits — scope exit releases the checkpoint's lineage-
    // truncated blocks, and a later action on an escaped handle fails
    // outright (a cache would merely recompute). Every current call site
    // consumes in-scope (ADVICE r17 #3 documents the latency of this).
    val p = CacheTracker.settled(pairs.localCheckpoint())
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b"), col("doc_a")))
    // |V|-sized and consumed three times (two orientation joins + the
    // final per-node output)
    val deg = CacheTracker.cached(
      edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    val fwd = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("doc_a") < col("doc_b"))
    // oriented edges carry the DEST's degree so the wedge join's total
    // order ((ddeg, dst) lexicographic) needs no further join
    val o = p
      .join(deg.select(col("id").as("doc_a"), col("deg").as("dega")), Seq("doc_a"))
      .join(deg.select(col("id").as("doc_b"), col("deg").as("degb")), Seq("doc_b"))
      .select(
        when(fwd, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(fwd, col("doc_b")).otherwise(col("doc_a")).as("dst"),
        when(fwd, col("degb")).otherwise(col("dega")).as("ddeg"))
      .transform(CacheTracker.cached) // three consumers: both wedge legs + the closing probe
    val e1 = o.select(col("src").as("x"), col("dst").as("y"), col("ddeg").as("dy"))
    val e2 = o.select(col("src").as("x2"), col("dst").as("z"), col("ddeg").as("dz"))
    val e3 = o.select(col("src").as("y3"), col("dst").as("z3"))
    val tri = e1.join(e2, col("x") === col("x2") &&
        (col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z"))))
      .join(e3, col("y") === col("y3") && col("z") === col("z3"))
      .select("x", "y", "z")
      .transform(CacheTracker.cached) // exploded three ways below
    val pern = tri.select(col("x").as("v"))
      .union(tri.select(col("y")))
      .union(tri.select(col("z")))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(pern, col("id") === col("v"), "left")
      .select(col("id").as("doc_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        round((lit(2) * coalesce(col("tri"), lit(0L))).cast("double")
          / (col("deg") * (col("deg") - 1)), 6).as("coeff"))
  }

  // ---------- shared oracle-SQL fragments ----------
  private def toksFrom = s"""SELECT doc_id, ${tokensSql("text")} AS toks FROM documents"""

  /** The CDC chunk CTEs (SQL mirror of [[cdcChunks]] + the n_toks >= 4
    * floor), shared by q_dedup_chunks and q_dedup_boilerplate. */
  private def chunkCtes =
    s"""toks AS ($toksFrom),
       |tok AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
       |               unnest(toks) AS tok FROM toks),
       |lagd AS (SELECT doc_id, pos, tok,
       |           lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |         FROM tok),
       |chunked AS (
       |  SELECT doc_id, pos, tok,
       |    sum(CASE WHEN prev IS NOT NULL
       |             AND ${h31Sql("prev || ' ' || tok")} % 16 = 0
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
       |  FROM lagd
       |),
       |chunks0 AS (
       |  SELECT doc_id, chunk, count(*) AS n_toks,
       |    string_agg(tok, ' ' ORDER BY pos) AS ctext
       |  FROM chunked GROUP BY doc_id, chunk
       |),
       |chunks AS (SELECT doc_id, n_toks, ${h48Sql("ctext")} AS h
       |           FROM chunks0 WHERE n_toks >= 4)""".stripMargin
  /** Distinct (doc_id, h48(shingle)) — mirrors [[shingleHashDf]]. */
  private[ext] def shingleHashFrom =
    s"""SELECT DISTINCT doc_id, h FROM (
       |  SELECT doc_id, ${h48Sql("sh")} AS h FROM (
       |    SELECT doc_id, unnest(${shinglesFromTokensSql("toks", K)}) AS sh
       |    FROM ($toksFrom)
       |  )
       |)""".stripMargin
  private[ext] def minhashSelect = {
    val sigCols = MinhashPerms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $Mersenne31) AS sig_$i"
    }.mkString(",\n  ")
    s"""SELECT doc_id, $sigCols
       |FROM (SELECT doc_id, h % $Mersenne31 AS h FROM ($shingleHashFrom))
       |GROUP BY doc_id""".stripMargin
  }
  /** WITH RECURSIVE prefix computing per-doc cluster labels — mirrors
    * [[clustersDf]]: `comp(id, comp)` is every doc with the min doc_id
    * reachable through the minhash candidate-pair graph.
    */
  private def closureWithSql: String = {
    val bandCond = (0 until MinhashBands)
      .map(b => s"(a.sig_${2 * b} = b.sig_${2 * b} AND a.sig_${2 * b + 1} = b.sig_${2 * b + 1})")
      .mkString(" OR ")
    s"""WITH RECURSIVE sigs AS ($minhashSelect),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ($bandCond)
       |),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.id
       |),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)""".stripMargin
  }

  /** "a and b agree on some LSH band" — the oracle-side join condition. */
  private def bandCondSql(a: String, b: String): String = (0 until MinhashBands)
    .map(x => s"($a.sig_${2 * x} = $b.sig_${2 * x} AND $a.sig_${2 * x + 1} = $b.sig_${2 * x + 1})")
    .mkString(" OR ")

  private def simhashSelect = {
    val bitSums = (0 until 32).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s_$j"
    }.mkString(",\n    ")
    val recompose = (0 until 32).map(j => s"CASE WHEN s_$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""SELECT doc_id, CAST($recompose AS BIGINT) AS simhash, n_tokens FROM (
       |  SELECT doc_id, $bitSums, count(*) AS n_tokens
       |  FROM (SELECT doc_id, ${h48Sql("tok")} AS h FROM
       |          (SELECT doc_id, unnest(toks) AS tok FROM ($toksFrom)))
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    // ---- exact dedup: content-hash groupBy ----
    Q("q_dedup_exact",
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        |  count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(md5(col("text"))).as("n_unique"),
             (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))
    },

    // ---- minhash signatures (8 affine perms over 5-gram shingles) ----
    Q("q_dedup_minhash",
      s"""$minhashSelect ORDER BY doc_id""".stripMargin) { (s, d) =>
      minhashDf(s, d).orderBy("doc_id")
    },

    // ---- LSH candidate pairs: 4 bands × 2 rows, equi-join per band ----
    Q("q_dedup_minhash_pairs", {
      val bandCond = (0 until MinhashBands)
        .map(b => s"(a.sig_${2 * b} = b.sig_${2 * b} AND a.sig_${2 * b + 1} = b.sig_${2 * b + 1})")
        .mkString(" OR ")
      s"""WITH sigs AS ($minhashSelect)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ($bandCond)
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, d) =>
      minhashPairsDf(s, d).orderBy("doc_a", "doc_b")
    },

    // ---- cluster closure: pairs -> connected components -> canonical doc ----
    // The step that turns candidate PAIRS into a deduplicated corpus:
    // transitive closure over the MinHash-LSH pair graph (a near-dup of b
    // and b of c puts a,c in one cluster even if they never shared a band),
    // canonical representative = min doc_id, keep = this row IS the
    // representative. filter(keep) is the deduplicated corpus.
    Q("q_dedup_clusters",
      s"""$closureWithSql
         |SELECT id AS doc_id, comp AS cluster_id, (id = comp) AS keep
         |FROM comp ORDER BY doc_id""".stripMargin) { (s, d) =>
      clustersDf(s, d)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
                (col("id") === col("comp")).as("keep"))
        .orderBy("doc_id")
    },

    // ---- the deduplicated corpus: one canonical row per cluster ----
    // End of the curation pipeline: keep only each cluster's canonical doc
    // (min doc_id), annotated with how many near-dups it absorbed. The
    // cluster-size aggregate shuffles (comp) keys — one row per cluster,
    // never the text — and the documents join only rehydrates the kept ids.
    Q("q_dedup_corpus",
      s"""$closureWithSql,
         |sizes AS (SELECT comp, count(*) AS n_members FROM comp GROUP BY comp)
         |SELECT c.id AS doc_id, s.n_members, length(d.text) AS text_len
         |FROM comp c
         |JOIN sizes s ON s.comp = c.comp
         |JOIN documents d ON d.doc_id = c.id
         |WHERE c.id = c.comp ORDER BY doc_id""".stripMargin) { (s, d) =>
      val clusters = clustersDf(s, d)
      val sizes = clusters.groupBy("comp").agg(count(lit(1)).as("n_members"))
      clusters.filter(col("id") === col("comp"))
        .join(sizes, Seq("comp"))
        .join(Tables.documents(s, d)
                .select(col("doc_id"), length(col("text")).as("text_len")),
              col("id") === col("doc_id"))
        .select(col("doc_id"), col("n_members"), col("text_len"))
        .orderBy("doc_id")
    },

    // ---- duplicate-family audit: size histogram × domain concentration ----
    // The report a data curator actually reads off the cluster closure:
    // "how big are my duplicate families, which domains do they
    // concentrate in, and how much would dedup drop from each". One row
    // per (cluster size ≥ 2, source domain): how many documents of that
    // domain sit in families of that size, how many distinct families the
    // domain touches, and how many of its documents a keep-canonical
    // dedup would drop (everything but the min-doc_id representative).
    // Plan shape: the closure's (id, comp) labels get ONE ≤|clusters|-row
    // size aggregate, re-join on comp, an equi-join to the documents
    // table for the domain, and a final (size, source) hash aggregate —
    // output bounded by families × domains, nothing pairwise. The oracle
    // replays the closure recursively and the same joins.
    Q("q_dedup_cluster_stats",
      s"""$closureWithSql,
         |sizes AS (SELECT comp, count(*) AS n_members FROM comp GROUP BY comp)
         |SELECT s.n_members AS cluster_size, d.source,
         |  count(*) AS n_docs,
         |  count(DISTINCT c.comp) AS n_clusters,
         |  CAST(sum(CASE WHEN c.id = c.comp THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         |FROM comp c
         |JOIN sizes s ON s.comp = c.comp AND s.n_members >= 2
         |JOIN documents d ON d.doc_id = c.id
         |GROUP BY 1, 2 ORDER BY cluster_size, source""".stripMargin) { (s, d) =>
      val clusters = clustersDf(s, d).transform(CacheTracker.cached)
      val sizes = clusters.groupBy("comp").agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
      clusters
        .join(sizes, Seq("comp"))
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
              col("id") === col("doc_id"))
        .groupBy(col("n_members").as("cluster_size"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("comp")).as("n_clusters"),
          sum(when(col("id") === col("comp"), 0).otherwise(1))
            .cast("long").as("n_dropped"))
        .orderBy("cluster_size", "source")
    },

    // ---- simhash fingerprints ----
    Q("q_dedup_simhash",
      s"""$simhashSelect ORDER BY doc_id""".stripMargin) { (s, d) =>
      simhashDf(s, d).orderBy("doc_id")
    },

    // ---- simhash near-dup pairs: 8-bit band candidates + hamming rank ----
    Q("q_dedup_simhash_pairs", {
      val bandCond = (0 until MinhashBands)
        .map(b => s"((a.simhash >> ${8 * b}) & 255 = (b.simhash >> ${8 * b}) & 255)")
        .mkString(" OR ")
      s"""WITH sims AS (SELECT * FROM ($simhashSelect) WHERE doc_id < 200)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id AND ($bandCond)
         |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin
    }) { (s, d) =>
      // same single-shuffle shape as the minhash pairs (bandedSelfJoin):
      // 4 bands of 8 simhash bits each, fingerprints carried through
      val banded = simhashDf(s, d, docFilter = col("doc_id") < 200)
        .select(col("doc_id"), col("simhash").as("sim"),
          posexplode(array((0 until MinhashBands).map { b =>
            shiftright(col("simhash"), 8 * b).bitwiseAND(255)
          }: _*)).as(Seq("band", "key")))
        .transform(CacheTracker.cached)
      bandedSelfJoin(banded, Seq("sim"))
        .select("doc_a", "doc_b", "sim_a", "sim_b").distinct()
        .select(col("doc_a"), col("doc_b"),
          expr("cast(bit_count(sim_a ^ sim_b) as int)").as("hamming"))
        .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
        .limit(20)
    },

    // ---- n-gram Jaccard via shingle inverted index (df-capped) ----
    // Ubiquitous shingles (df > MaxShingleDf) are removed from the index —
    // and symmetrically from the per-doc counts — before the self-join, the
    // standard stopword-style cap that keeps posting lists, and therefore
    // join fan-out, bounded at any corpus size. The oracle SQL applies the
    // identical cap, so the result stays hash-checkable.
    Q("q_dedup_jaccard",
      s"""WITH sh0 AS ($shingleHashFrom),
         |sh AS (
         |  SELECT doc_id, h FROM (
         |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM sh0
         |  ) WHERE df <= $MaxShingleDf
         |),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, shared,
         |  round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) AS jacc
         |FROM pairs
         |JOIN cnt ca ON ca.doc_id = doc_a
         |JOIN cnt cb ON cb.doc_id = doc_b
         |ORDER BY jacc DESC, doc_a, doc_b LIMIT 10""".stripMargin) { (s, d) =>
      // df-cap, two regimes (r17, same switch as the substring family):
      // SMALL — anti-join against the hot-shingle set (hashes ABOVE the
      // cap: boilerplate, a vanishing fraction), which broadcasts, so
      // the index rows reach the pair join with no extra exchange and no
      // sort; LARGE — the r16 count-over-(h) window: one exchange, one
      // sort, never a corpus-sized shuffled anti-join.
      val sh0 = shingleHashDf(s, d)
      val sh = (if (Tables.broadcastRegime(Tables.documents(s, d))) {
          val hot = sh0.groupBy("h").agg(count(lit(1)).as("df"))
            .filter(col("df") > MaxShingleDf)
            .select("h")
          sh0.join(hot, Seq("h"), "left_anti")
        } else
          sh0.withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
            .filter(col("df") <= MaxShingleDf)
            .drop("df"))
        .transform(CacheTracker.cached)
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = sh.select(col("doc_id").as("doc_a"), col("h"))
        .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      pairs
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("shared"),
          round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 6).as("jacc"))
        .orderBy(col("jacc").desc, col("doc_a").asc, col("doc_b").asc)
        .limit(10)
    },

    // ---- edit-distance scoring of LSH candidate pairs ----
    // Levenshtein is O(len²) per pair, so it NEVER runs on the cross
    // product: candidates come from the banded minhash join (bounded by
    // bucket occupancy) and the distance runs on a 400-char prefix — the
    // rescoring pattern fuzzy dedup uses once cheap hashing has shortlisted
    // pairs. Both engines implement the same classic DP, so the scores are
    // exact integers and the normalized similarity is IEEE-exact.
    Q("q_dedup_editdist",
      s"""WITH sigs AS ($minhashSelect),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND (${bandCondSql("a", "b")})
         |),
         |t AS (SELECT doc_id, substr(text, 1, 400) AS t FROM documents)
         |SELECT doc_a, doc_b, levenshtein(ta.t, tb.t) AS dist,
         |  round(1 - CAST(levenshtein(ta.t, tb.t) AS DOUBLE)
         |        / greatest(len(ta.t), len(tb.t)), 6) AS sim
         |FROM pairs
         |JOIN t ta ON ta.doc_id = doc_a
         |JOIN t tb ON tb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 400).as("t"))
      minhashPairsDf(s, d)
        .join(t.select(col("doc_id").as("doc_a"), col("t").as("t_a")), Seq("doc_a"))
        .join(t.select(col("doc_id").as("doc_b"), col("t").as("t_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("t_a"), col("t_b")).as("dist"),
          round(lit(1) - levenshtein(col("t_a"), col("t_b")).cast("double")
            / greatest(length(col("t_a")), length(col("t_b"))), 6).as("sim"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- graph centrality over the near-dup pair graph ----
    // PageRank-style scoring of the candidate-pair graph: which documents
    // sit at the center of duplication clusters (hubs worth auditing
    // first). Three unrolled power iterations in FIXED-POINT INTEGER
    // arithmetic (ranks in millionths, BIGINT `DIV`) — integer division is
    // bit-identical across engines where double summation is
    // order-dependent, so an iterative graph algorithm stays hash-checkable.
    // Each iteration is one equi-join on src + one aggregate by dst —
    // the same bounded shapes as the CC loop; nothing driver-side.
    Q("q_graph_pagerank", {
      // per-edge contribution rank//deg and the damping step both use
      // FLOOR DIVISION on positive BIGINTs (`//` in DuckDB, `div` in
      // Spark) — bit-identical in both engines, never a double
      val iterate = (t: String) =>
        s"""SELECT n.id,
           |  CAST(150000 + (850000 * coalesce(sum($t.rank // d.deg), 0)) // 1000000
           |       AS BIGINT) AS rank
           |FROM nodes n
           |LEFT JOIN edges e ON e.dst = n.id
           |LEFT JOIN $t ON $t.id = e.src
           |LEFT JOIN deg d ON d.id = e.src
           |GROUP BY n.id""".stripMargin
      s"""WITH sigs AS ($minhashSelect),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND (${bandCondSql("a", "b")})
         |),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |r1 AS (${iterate("r0")}),
         |r2 AS (${iterate("r1")})
         |SELECT id AS doc_id, rank AS rank_micros
         |FROM r2 ORDER BY rank_micros DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, d) =>
      val pairs = minhashPairsDf(s, d)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        // settle the pair join once; nodes/deg and both unrolled
        // iterations re-read it. Measured isolated at sf0.1 (REPS=5,
        // valid canary) twice: r7 localCheckpoint 2.38 s / cache() 3.20 s /
        // no settling 4.28 s; re-pinned r9 on Spark 4.1.2 (min reps,
        // BASELINE.md's outlier-host estimator) 2.22 s / 3.14 s / 4.51 s —
        // the eager checkpoint wins both times because five downstream
        // consumers otherwise re-execute or re-scan the banded self-join
        // (re-measure the three after a Spark upgrade). `settled`: a runner
        // scope frees the checkpoint's RDD blocks at query end, which
        // Dataset.unpersist never does (CacheTracker.releaseLocalCheckpoint).
        .transform(e => graft.CacheTracker.settled(e.localCheckpoint()))
      val nodes = edges.select(col("src").as("nid")).distinct()
      val deg = edges.groupBy(col("src").as("did")).agg(count(lit(1)).as("deg"))
      // ranks carry schema (rid, srank); every name in the join is unique
      def iterate(ranks: DataFrame): DataFrame =
        nodes
          .join(edges, col("dst") === col("nid"), "left")
          .join(ranks, col("src") === col("rid"), "left")
          .join(deg, col("src") === col("did"), "left")
          .groupBy(col("nid"))
          .agg(expr("cast(150000 + (850000 * coalesce(sum(srank div deg), 0)) div 1000000 as bigint)")
            .as("srank"))
          .select(col("nid").as("rid"), col("srank"))
      val r0 = nodes.select(col("nid").as("rid"), lit(1000000L).as("srank"))
      iterate(iterate(r0))
        .select(col("rid").as("doc_id"), col("srank").as("rank_micros"))
        .orderBy(col("rank_micros").desc, col("doc_id").asc)
        .limit(20)
    },

    // ---- triangle counting + local clustering coefficient ----
    // The third lens on the candidate-pair graph (pagerank finds hubs, CC
    // finds clusters): a node's clustering coefficient separates "center
    // of one coherent near-dup cluster" (neighbors all duplicate each
    // other, coeff → 1) from "template shared across unrelated pages"
    // (neighbors mutually distinct, coeff → 0) — the triage signal a
    // dedup audit ranks by. Spark side is [[triangleCounts]]'s
    // degree-ordered wedge join (per-key fan-out bounded by the oriented
    // out-degree, O(√m) on any graph — a hub never fans out); the oracle
    // replays the naive canonical x<y<z three-way join, which enumerates
    // the SAME triangle set, so per-node counts agree exactly. coeff's
    // single double division is IEEE-exact in both engines.
    Q("q_graph_triangles",
      s"""WITH sigs AS ($minhashSelect),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND (${bandCondSql("a", "b")})
         |),
         |deg AS (SELECT id, count(*) AS deg FROM (
         |  SELECT doc_a AS id FROM pairs UNION ALL SELECT doc_b FROM pairs
         |) GROUP BY id),
         |tri AS (
         |  SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
         |  FROM pairs e1
         |  JOIN pairs e2 ON e2.doc_a = e1.doc_b
         |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
         |),
         |pern AS (SELECT v, count(*) AS tri FROM (
         |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri
         |) GROUP BY v)
         |SELECT d.id AS doc_id, d.deg, CAST(coalesce(p.tri, 0) AS BIGINT) AS tri,
         |  round(CAST(2 * coalesce(p.tri, 0) AS DOUBLE) / (d.deg * (d.deg - 1)), 6) AS coeff
         |FROM deg d LEFT JOIN pern p ON p.v = d.id
         |WHERE d.deg >= 2 ORDER BY doc_id""".stripMargin) { (s, d) =>
      triangleCounts(minhashPairsDf(s, d)).orderBy("doc_id")
    },

    // ---- sub-document dedup: content-defined chunks shared across docs ----
    // Whole-document hashing misses the dominant duplication mode in web
    // corpora: shared boilerplate paragraphs inside otherwise-distinct
    // pages. Content-defined chunking splits each document at tokens whose
    // hash lands in a fixed residue class (expected chunk ≈ 16 tokens) —
    // boundaries depend only on LOCAL content, so the same paragraph
    // chunks identically wherever it appears, unlike fixed-size windows.
    // Chunks are then hashed and grouped: any hash held by >1 document is
    // shared boilerplate. The boundary hashes the BIGRAM ending at each
    // token (a 2-token rolling window) — a lone token's hash over a small
    // vocabulary can miss the residue class entirely, and a wider context
    // is what makes boundaries stable under single-token edits. Scale
    // shape: one window partitioned by doc_id (lag + boundary prefix-sum),
    // a per-(doc, chunk) aggregate that reuses the same partitioning (no
    // second exchange), and a final aggregate that shuffles one 8-byte
    // hash row per chunk — no self-joins, nothing O(n²) anywhere.
    Q("q_dedup_chunks",
      s"""WITH $chunkCtes
         |SELECT h, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
         |  min(n_toks) AS n_toks
         |FROM chunks GROUP BY h HAVING count(DISTINCT doc_id) > 1
         |ORDER BY n_docs DESC, n_occ DESC, h LIMIT 25""".stripMargin) { (s, d) =>
      val chunks = cdcChunks(Tables.documents(s, d).select(col("doc_id"), col("text")))
        .filter(col("n_toks") >= 4)
      chunks.groupBy("h")
        .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"),
             min("n_toks").as("n_toks"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("h").asc)
        .limit(25)
    },

    // ---- per-document boilerplate fraction from the shared-chunk set ----
    // The actionable curation signal on top of q_dedup_chunks: what share
    // of each document's (chunked) tokens sits in chunks that also appear
    // in OTHER documents. High bp_ratio = template/mirror page, a
    // drop-or-strip candidate. Same scale shape as the chunk query plus
    // one groupBy(h) and one equi-join back on the 8-byte hash — nothing
    // leaves the hash domain, no self-join.
    Q("q_dedup_boilerplate",
      s"""WITH $chunkCtes,
         |shared AS (
         |  SELECT h FROM chunks GROUP BY h HAVING count(DISTINCT doc_id) > 1
         |),
         |per_doc AS (
         |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(c.n_toks) AS BIGINT) AS n_toks_total,
         |    CAST(sum(CASE WHEN s.h IS NOT NULL THEN c.n_toks ELSE 0 END) AS BIGINT)
         |      AS n_toks_shared
         |  FROM chunks c LEFT JOIN shared s ON s.h = c.h
         |  GROUP BY c.doc_id
         |)
         |SELECT doc_id, n_chunks, n_toks_total, n_toks_shared,
         |  round(CAST(n_toks_shared AS DOUBLE) / n_toks_total, 4) AS bp_ratio
         |FROM per_doc WHERE n_toks_shared > 0
         |ORDER BY bp_ratio DESC, doc_id LIMIT 30""".stripMargin) { (s, d) =>
      val chunks = cdcChunks(Tables.documents(s, d).select(col("doc_id"), col("text")))
        .filter(col("n_toks") >= 4)
        .transform(CacheTracker.cached) // both the shared-hash aggregate and the per-doc join read it
      val shared = chunks.groupBy("h")
        .agg(countDistinct("doc_id").as("n_docs"))
        .filter(col("n_docs") > 1)
        .select(col("h"), lit(1).as("is_sh"))
      chunks.join(shared, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
             sum("n_toks").as("n_toks_total"),
             sum(when(col("is_sh") === 1, col("n_toks")).otherwise(0)).as("n_toks_shared"))
        .filter(col("n_toks_shared") > 0)
        .select(col("doc_id"), col("n_chunks"), col("n_toks_total"), col("n_toks_shared"),
                round(col("n_toks_shared").cast("double") / col("n_toks_total"), 4).as("bp_ratio"))
        .orderBy(col("bp_ratio").desc, col("doc_id").asc)
        .limit(30)
    },

    // ---- incremental dedup: incoming batch vs existing corpus index ----
    // The streaming-shaped curation step as a batch operator: the existing
    // corpus (even doc_ids) is reduced to its DISTINCT (band, key) LSH
    // index — the structure a production pipeline maintains incrementally —
    // persisted AT REST through [[DedupIndex]] (partitioned by
    // (band, bucket)), and an incoming batch (odd doc_ids) probes it; any
    // band hit flags the document as a near-dup of something already
    // ingested. At 100 TB only the (band, key) index shuffles (8-byte
    // keys, one row per band per corpus doc), never the corpus text; the
    // small incoming batch broadcasts, and dynamic partition pruning
    // restricts the stored-index scan to the batch's (band, bucket)
    // directories (DedupIndexSpec asserts the plan).
    //
    // The index tree is built ONCE per (JVM, dataset) — at scale the index
    // is write-once/amortized and the per-batch production cost is the
    // PROBE, so that is what bench reps measure here; the one-time build
    // has its own timed line (q_dedup_index_build below).
    Q("q_dedup_incremental", {
      val hit = (0 until MinhashBands).map { b =>
        s"""(CASE WHEN EXISTS (SELECT 1 FROM sigs e WHERE e.doc_id % 2 = 0
           |  AND e.sig_${2 * b} = i.sig_${2 * b} AND e.sig_${2 * b + 1} = i.sig_${2 * b + 1})
           |  THEN 1 ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"""WITH sigs AS ($minhashSelect)
         |SELECT doc_id, n_bands_hit FROM (
         |  SELECT i.doc_id, CAST($hit AS BIGINT) AS n_bands_hit
         |  FROM sigs i WHERE i.doc_id % 2 = 1
         |) WHERE n_bands_hit > 0 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      // cache ONLY the probe half: the corpus half is needed once, inside
      // the memoized build — caching the full banded frame re-computed and
      // re-stored the corpus bands on every timed rep (r17)
      val probeBands = mhBandedDf(s, d).filter(col("doc_id") % 2 === 1)
        .transform(CacheTracker.cached)
      val dir = builtIndexes.computeIfAbsent(d, _ => {
        val p = freshIndexDir()
        DedupIndex.write(mhBandedDf(s, d).filter(col("doc_id") % 2 === 0), p)
        p
      })
      DedupIndex.probe(DedupIndex.load(s, dir), probeBands)
        .orderBy("doc_id")
    },

    // ---- the one-time index build, timed as its own line ----
    // Writes the corpus-side (band, key) index into a fresh per-process
    // temp dir (the write IS the measured work — bench invokes the query
    // function inside its timed region), then reads the tree back and
    // aggregates per-band key counts, so the oracle checks the BYTES AT
    // REST, not an in-memory shortcut.
    // The tree lands in ONE lazily-created per-(JVM, dataset) directory
    // (mode overwrite replaces it in place): a fresh dir per invocation
    // would leave every bench rep's full index on disk and stack one
    // shutdown hook per rep until JVM exit.
    Q("q_dedup_index_build",
      s"""WITH sigs AS ($minhashSelect),
         |keys AS (
         |  SELECT DISTINCT band, k1, k2 FROM (
         |    ${(0 until MinhashBands).map(b =>
               s"SELECT $b AS band, sig_${2 * b} AS k1, sig_${2 * b + 1} AS k2 FROM sigs WHERE doc_id % 2 = 0")
               .mkString("\n    UNION ALL ")}
         |  )
         |)
         |SELECT band, count(*) AS n_keys FROM keys GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
      val dir = buildDirs.computeIfAbsent(d, _ => freshIndexDir())
      DedupIndex.write(
        mhBandedDf(s, d).filter(col("doc_id") % 2 === 0), dir)
      DedupIndex.load(s, dir)
        .groupBy("band").agg(count(lit(1)).as("n_keys"))
        .orderBy("band")
    },

    // ---- incremental index maintenance: probe an APPENDED tree ----
    // The production dedup loop is probe → admit → APPEND the admitted
    // batch's keys (DedupIndex.append — O(batch), base files untouched,
    // duplicate keys across batches tolerated because probe dedupes its
    // hits). This row drives that loop end-to-end: the %3=0 slice is the
    // initial index, the %3=1 slice is appended (its keys legitimately
    // overlap the stored ones wherever cross-slice near-dups exist), and
    // the %3=2 slice probes the MERGED tree. The oracle re-derives every
    // hit count from the base table over the union corpus — an appended
    // tree that dropped keys, mis-bucketed them, or double-counted a
    // twice-ingested key cannot match. Probe stays dynamic-partition-
    // pruned (DedupIndexSpec asserts it on appended trees too).
    Q("q_dedup_index_append", {
      val hit = (0 until MinhashBands).map { b =>
        s"""(CASE WHEN EXISTS (SELECT 1 FROM sigs e WHERE e.doc_id % 3 < 2
           |  AND e.sig_${2 * b} = i.sig_${2 * b} AND e.sig_${2 * b + 1} = i.sig_${2 * b + 1})
           |  THEN 1 ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"""WITH sigs AS ($minhashSelect)
         |SELECT doc_id, n_bands_hit FROM (
         |  SELECT i.doc_id, CAST($hit AS BIGINT) AS n_bands_hit
         |  FROM sigs i WHERE i.doc_id % 3 = 2
         |) WHERE n_bands_hit > 0 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      // cache only the PROBE third — the two build thirds run once inside
      // the memoized artifact lambda (r17: caching the full banded frame
      // re-computed + re-stored the corpus bands every timed rep)
      val probeBands = mhBandedDf(s, d).filter(col("doc_id") % 3 === 2)
        .transform(CacheTracker.cached)
      val dir = StoredArtifacts.of(s"dedup-append|$d") { r =>
        DedupIndex.write(mhBandedDf(s, d).filter(col("doc_id") % 3 === 0), r)
        DedupIndex.append(mhBandedDf(s, d).filter(col("doc_id") % 3 === 1), r)
      }
      DedupIndex.probe(DedupIndex.load(s, dir), probeBands)
        .orderBy("doc_id")
    },

    // ---- index MAINTENANCE: probe a compacted + fan-migrated tree ----
    // The missing half of the append lifecycle, driver-verified: after the
    // same write → append sequence as q_dedup_index_append, the tree is
    // COMPACTED (collapsing the appended part files and the cross-batch
    // duplicate keys back to write()'s distinct one-file-per-directory
    // layout) and then REBUCKETED to a doubled fan (the scale knob frozen
    // at write time until round 15), each via the crash-safe staging/swap
    // of IndexMaintenance. The oracle is the SAME full-corpus replay as
    // the append row — maintenance must be invisible to every probe — so
    // a compaction that lost keys, a migration that mis-derived a bucket,
    // or a probe still assuming the old fan (marker-refused, spec-pinned)
    // cannot match. Probe stays dynamic-partition-pruned at the new fan
    // (IndexMaintenanceSpec asserts it on the executed plan).
    Q("q_dedup_index_maint", {
      val hit = (0 until MinhashBands).map { b =>
        s"""(CASE WHEN EXISTS (SELECT 1 FROM sigs e WHERE e.doc_id % 3 < 2
           |  AND e.sig_${2 * b} = i.sig_${2 * b} AND e.sig_${2 * b + 1} = i.sig_${2 * b + 1})
           |  THEN 1 ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"""WITH sigs AS ($minhashSelect)
         |SELECT doc_id, n_bands_hit FROM (
         |  SELECT i.doc_id, CAST($hit AS BIGINT) AS n_bands_hit
         |  FROM sigs i WHERE i.doc_id % 3 = 2
         |) WHERE n_bands_hit > 0 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      // probe-third-only cache — same rationale as q_dedup_index_append
      val probeBands = mhBandedDf(s, d).filter(col("doc_id") % 3 === 2)
        .transform(CacheTracker.cached)
      val dir = StoredArtifacts.of(s"dedup-maint|$d") { r =>
        DedupIndex.write(mhBandedDf(s, d).filter(col("doc_id") % 3 === 0), r)
        DedupIndex.append(mhBandedDf(s, d).filter(col("doc_id") % 3 === 1), r)
        DedupIndex.compact(s, r)
        DedupIndex.rebucket(s, r, DedupIndex.Buckets, 2 * DedupIndex.Buckets)
      }
      DedupIndex.probe(DedupIndex.load(s, dir, 2 * DedupIndex.Buckets),
                       probeBands,
                       2 * DedupIndex.Buckets)
        .orderBy("doc_id")
    },

    // ---- maintenance observability: the WHEN-to-compact report ----
    // DedupIndex.append tolerates cross-batch duplicate keys by design
    // (probe dedupes its hits), so the operational question is "how much
    // duplicate volume has churn accumulated" — n_rows − n_keys per band,
    // the number compaction will reclaim. This row drives the
    // at-least-once worst case (the same batch appended TWICE) and
    // reports both lifecycle stages: the churned tree's stats are
    // PERSISTED at maintenance time (the production maintenance-log
    // artifact an operator alerts on), the compacted tree's are computed
    // from the stored bytes — and the oracle re-derives both from the
    // base table (churned rows = |write-set keys| + 2·|append-set keys|
    // per band because each append dedupes WITHIN its batch; compacted
    // rows = the union's distinct keys), so a stats report that
    // miscounted, a compaction that dropped keys, or an append that
    // deduped across batches (the O(index) anti-join the design rejects)
    // cannot match.
    Q("q_dedup_index_stats", {
      def keysOf(pred: String) =
        s"""SELECT DISTINCT band, k1, k2 FROM (
           |    ${(0 until MinhashBands).map(b =>
                 s"SELECT $b AS band, sig_${2 * b} AS k1, sig_${2 * b + 1} AS k2 FROM sigs WHERE $pred")
                 .mkString("\n    UNION ALL ")}
           |  )""".stripMargin
      s"""WITH sigs AS ($minhashSelect),
         |ka AS (${keysOf("doc_id % 3 = 0")}),
         |kb AS (${keysOf("doc_id % 3 = 1")}),
         |ku AS (SELECT band, k1, k2 FROM ka UNION SELECT band, k1, k2 FROM kb),
         |a AS (SELECT band, count(*) AS na FROM ka GROUP BY band),
         |b AS (SELECT band, count(*) AS nb FROM kb GROUP BY band),
         |u AS (SELECT band, count(*) AS nu FROM ku GROUP BY band)
         |SELECT 'churned' AS stage, band,
         |  CAST(na + 2 * nb AS BIGINT) AS n_rows, CAST(nu AS BIGINT) AS n_keys
         |FROM a JOIN b USING (band) JOIN u USING (band)
         |UNION ALL
         |SELECT 'compacted' AS stage, band,
         |  CAST(nu AS BIGINT) AS n_rows, CAST(nu AS BIGINT) AS n_keys
         |FROM u
         |ORDER BY stage, band""".stripMargin
    }) { (s, d) =>
      // the banded frame is only consumed inside the memoized build — no
      // cache at all; timed reps read the stored stats (r17)
      val dir = StoredArtifacts.of(s"dedup-stats|$d") { r =>
        val banded = mhBandedDf(s, d).transform(CacheTracker.cached)
        DedupIndex.write(banded.filter(col("doc_id") % 3 === 0), s"$r/tree")
        DedupIndex.append(banded.filter(col("doc_id") % 3 === 1), s"$r/tree")
        DedupIndex.append(banded.filter(col("doc_id") % 3 === 1), s"$r/tree")
        DedupIndex.stats(s, s"$r/tree")
          .withColumn("stage", lit("churned"))
          .write.parquet(s"$r/stats_churned.parquet")
        DedupIndex.compact(s, s"$r/tree")
      }
      Tables.readParquet(s, s"$dir/stats_churned.parquet")
        .unionByName(DedupIndex.stats(s, s"$dir/tree")
          .withColumn("stage", lit("compacted")))
        .select("stage", "band", "n_rows", "n_keys")
        .orderBy("stage", "band")
    }
  )

  /** Index trees built this JVM, keyed by dataset dir: q_dedup_incremental
    * builds at most once per dataset and times only the probe thereafter.
    */
  private val builtIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q_dedup_index_build's per-(JVM, dataset) target dirs: the measured
    * write re-runs (and overwrites) every invocation, but the directory —
    * and its shutdown-hook cleanup — is created once.
    */
  private val buildDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A fresh per-process index dir under java.io.tmpdir, recursively
    * deleted at JVM exit. createTempDirectory gives each JVM its own tree,
    * so concurrent verify/bench runs on the same dataset never race on a
    * shared delete/write/probe path (the old fixed path keyed by the
    * dataset dir's hashCode did). The cleanup walk closes its stream —
    * Files.walk otherwise leaks a directory fd per call.
    */
  private def freshIndexDir(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-dedupidx-")
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(root))
        scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
          st.iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
    }
    root.toString
  }
}
