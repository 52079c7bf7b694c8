package graft.ext

import graft.{CacheTracker, Q, Tables}
import org.apache.spark.sql.functions._

import TextHash._

/** DSIR-style data selection: importance resampling of a raw corpus
  * toward a target distribution over hashed n-gram features (public
  * technique — Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling"; the reference has no curation surface).
  *
  * The estimator is the paper's: bag-of-hashed-n-grams (unigrams +
  * word-bigrams here) bucketed into `D` slots; the target and raw corpora
  * each induce a multinomial over the slots (Laplace-smoothed, α = 0.5);
  * a document's log importance weight is the sum over its features of
  * `log p̂_target(b) − log p̂_raw(b)`. Selection is sampling WITHOUT
  * replacement proportional to the weights, realized as Gumbel top-k:
  * `key = log w + Gumbel(0,1)`, take the k largest — the standard
  * equivalence, made deterministic by deriving each document's uniform
  * from an md5 hash of its id (same replayable-draw idiom as
  * [[MixtureSample]]).
  *
  * Plan shape at 100 TB: the feature explode is O(total tokens); both
  * distribution estimates are map-side-combined hash aggregates whose
  * OUTPUT is bounded by `D` rows regardless of corpus size; the log-ratio
  * table `λ` is a D-row broadcast joined back onto the exploded features;
  * per-document scoring is one hash aggregate keyed by doc_id; top-k
  * compiles to TakeOrderedAndProject (no global sort). No doc-doc
  * pairing, no collect — the only driver-sized object is the λ table.
  *
  * Cross-engine exactness: bucket ids come from [[TextHash.h48]] (md5 in
  * both engines); each λ_b is rounded to 9dp BEFORE the per-document
  * decimal sum, so the aggregate is order-independent; the Gumbel uniform
  * is `(hex8(md5(id ‖ ':dsir')) + 0.5) / 2³²`, exact in both engines.
  */
object Dsir {

  /** Hash-bucket count for the n-gram feature space. */
  val D = 1024

  /** Laplace smoothing mass added per bucket (α). */
  private val Alpha = 0.5

  /** DSIR selection over any `(doc_id, text)` frame: keep the `k`
    * documents of `docs ∖ target` whose Gumbel-perturbed importance
    * weight toward `targetPred`'s feature distribution is largest.
    * Exposed seam for composition and specs; `q_sample_dsir` is this over
    * the documents table with the every-97th-doc target.
    */
  def select(docs: org.apache.spark.sql.DataFrame, targetPred: org.apache.spark.sql.Column,
             k: Int, salt: String = "dsir"): org.apache.spark.sql.DataFrame = {
    // cache the exploded features ONCE: both distribution estimates (the
    // target side inside lamDf and the raw side below) filter this cache —
    // caching only the raw branch left the target count re-scanning the
    // full docs source a second time (a complete extra corpus read at the
    // 100 TB design point)
    val feats = featBuckets(docs, targetPred).transform(CacheTracker.cached)
    val rf = feats.filter(!col("is_target")).drop("is_target")
    scoreTail(rf, lamDf(feats, rf), k, salt)
  }

  /** DSIR selection from a FROZEN λ table over a candidate frame — the
    * at-rest serving face: same scoring tail as [[select]] (one shared
    * definition), with the D-slot table shipped as a broadcast instead of
    * derived in-plan. Candidates drawn from the corpus the table was
    * trained on hit only buckets the raw estimate saw, so the dense
    * table's 0.0 fill rows never join — stored serving is bit-identical
    * to the in-plan derivation (the declared q_sample_dsir_stored row
    * proves it against the full-replay oracle).
    */
  def selectWith(candidates: org.apache.spark.sql.DataFrame,
                 lam: IndexedSeq[Double], k: Int,
                 salt: String = "dsir"): org.apache.spark.sql.DataFrame = {
    require(lam.length == D, s"lambda table must have $D slots, got ${lam.length}")
    val s = candidates.sparkSession
    import s.implicits._
    val lamTable = lam.zipWithIndex
      .map { case (v, b) => (b.toLong, v) }.toDF("b", "lam")
    scoreTail(featBuckets(candidates, lit(false)).drop("is_target"),
      lamTable, k, salt)
  }

  /** The shared scoring tail: λ broadcast onto the exploded candidate
    * features, per-doc decimal sum, deterministic Gumbel top-k.
    */
  private def scoreTail(rf: org.apache.spark.sql.DataFrame,
                        lam: org.apache.spark.sql.DataFrame, k: Int,
                        salt: String): org.apache.spark.sql.DataFrame = {
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":" + salt))),
                            1, 8), 16, 10).cast("long") + 0.5) / 4294967296.0
    rf.join(broadcast(lam), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
           sum(col("lam").cast("decimal(20,9)")).cast("double").as("logw_raw"))
      .select(col("doc_id"), col("n_feats"),
              round(col("logw_raw"), 6).as("logw"),
              round(col("logw_raw") - log(-log(u)), 6).as("sel_key"))
      .orderBy(col("sel_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Persist the λ table — the at-rest face (same family as the
    * classifier's [[QualityClassifier.writeModel]]): D dense rows plus a
    * 1-row meta carrying the dimension, which [[loadTable]] verifies
    * against the compile-time [[D]] (features hash mod D on the serving
    * side — a table trained under a different fan would mis-route every
    * feature silently).
    */
  def writeTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                 lam: IndexedSeq[Double]): Unit = {
    import spark.implicits._
    // dir-level staging+promote (same fix as QualityClassifier.writeModel):
    // the old per-file delete-then-write could strand a NEW meta next to
    // an OLD λ table on a re-train crash — passing every loadTable check
    // while serving the wrong weights
    IndexMaintenance.withLease(spark, dir, "dsir-write") {
      IndexMaintenance.swapTree(spark, dir) { staging =>
        Seq(Tuple1(lam.length)).toDF("d")
          .coalesce(1).write.parquet(s"$staging/meta.parquet")
        lam.zipWithIndex.map { case (v, b) => (b, v) }.toDF("b", "lam")
          .coalesce(1).write.parquet(s"$staging/lambda.parquet")
      }
    }
  }

  def loadTable(spark: org.apache.spark.sql.SparkSession,
                dir: String): IndexedSeq[Double] = {
    IndexMaintenance.heal(spark, dir)
    val m = Tables.readParquet(spark, s"$dir/meta.parquet").collect()(0)
    require(m.getAs[Int]("d") == D,
      s"DSIR table at $dir was built over ${m.getAs[Int]("d")} hash " +
        s"buckets but this engine scores mod $D — retrain the table")
    val rows = Tables.readParquet(spark, s"$dir/lambda.parquet").collect()
      .map(r => r.getAs[Int]("b") -> r.getAs[Double]("lam")).toMap
    require(rows.size == D, s"DSIR table at $dir holds ${rows.size} of $D " +
      "rows — the artifact is torn; rebuild it")
    (0 until D).map(rows)
  }

  /** The trained artifact: the D-slot log-ratio table λ as a dense array
    * (0.0 for buckets absent from the raw corpus — such buckets never
    * occur in candidate documents drawn from it; for OTHER corpora they
    * score neutral). Metadata-scale collect, the same data [[select]]
    * broadcasts.
    */
  def lambdaTable(docs: org.apache.spark.sql.DataFrame,
                  targetPred: org.apache.spark.sql.Column): IndexedSeq[Double] = {
    // same single-scan discipline as [[select]]: target + raw estimates
    // are separate subtrees of one plan, so without the cache each would
    // re-scan the docs source
    val feats = featBuckets(docs, targetPred).transform(CacheTracker.cached)
    val rows = lamDf(feats, feats.filter(!col("is_target"))).collect()
    val m = rows.map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    (0 until D).map(b => m.getOrElse(b, 0.0))
  }

  /** (doc_id, is_target, b): one row per hashed feature occurrence. */
  private def featBuckets(docs: org.apache.spark.sql.DataFrame,
                          targetPred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col("text"))
    graft.Tables.spreadSmall(docs, col("doc_id"))
      .select(col("doc_id"), targetPred.as("is_target"),
        explode(concat(toks, shinglesFromTokens(toks, 2))).as("f"))
      .select(col("doc_id"), col("is_target"), (h48(col("f")) % D).as("b"))
  }

  /** The D-row log-ratio table from the bucketed features: per-bucket
    * Laplace-smoothed target/raw log densities, each λ 9dp-rounded so
    * downstream sums are order-independent.
    */
  private def lamDf(feats: org.apache.spark.sql.DataFrame,
                    raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tc = feats.filter(col("is_target"))
      .groupBy("b").agg(count(lit(1)).as("tcnt"))
    val rc = raw.groupBy("b").agg(count(lit(1)).as("rcnt"))
    // an empty side would make its total NULL and silently null every λ
    // (and with it every score); fail with the contract instead
    // sum() over an empty input is already NULL — the isNull guard below
    // is what detects the empty side
    val tt = tc.agg(sum("tcnt").cast("double").as("t"))
      .select(when(col("t").isNull,
        raise_error(lit("dsir: target set has no features (empty targetPred?)")))
        .otherwise(col("t")).as("t"))
    val rt = rc.agg(sum("rcnt").cast("double").as("r"))
      .select(when(col("r").isNull,
        raise_error(lit("dsir: raw candidate set has no features")))
        .otherwise(col("r")).as("r"))
    rc.join(tc, Seq("b"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .select(col("b"),
        round(log((coalesce(col("tcnt"), lit(0)) + Alpha) / (col("t") + Alpha * D))
            - log((col("rcnt") + Alpha) / (col("r") + Alpha * D)), 9).as("lam"))
  }

  /** Serving-path log importance weight: fold the λ table over the
    * document's features as ONE projection — zero shuffle, zero join; the
    * form a streaming admission gate or a 100 TB scoring pass uses.
    * EXACTLY equal to [[select]]'s `logw` (same multiset of 9dp-rounded
    * λ values, summed as decimals — order-independent), pinned by spec.
    */
  def scoreInline(text: org.apache.spark.sql.Column,
                  lam: IndexedSeq[Double]): org.apache.spark.sql.Column = {
    require(lam.length == D, s"lambda table must have $D slots")
    val larr = typedLit(lam)
    val toks = tokens(text)
    val feats = concat(toks, shinglesFromTokens(toks, 2))
    val s = aggregate(feats,
      lit(BigDecimal(0)).cast("decimal(20,9)"),
      (acc, f) => (acc +
        element_at(larr, (h48(f) % D).cast("int") + 1).cast("decimal(20,9)"))
        .cast("decimal(20,9)"))
    round(s.cast("double"), 6)
  }

  /** First 8 md5 hex chars as a BIGINT, DuckDB side (32 bits). */
  private def hex8Sql(e: String): String = TextHash.hexNSql(e, 8)

  val queries: Seq[Q] = Seq(

    // Target = every 97th document (the stand-in "high-quality reference
    // set", same convention as q_text_contamination); candidates = the
    // rest; k = 100 kept documents.
    Q("q_sample_dsir", dsirOracleSql) { (s, d) =>
      select(Tables.documents(s, d), col("doc_id") % 97 === 0, 100)
    },

    // ---- the lambda table AT REST, served from disk ----
    // DSIR's trained artifact gets the same at-rest lifecycle as the
    // classifier weights / LmGate / BPE vocab: the D-slot log-ratio table
    // is persisted once (memoized per JVM+dataset — write-once in
    // production) and selection over any candidate batch loads the FROZEN
    // table — a metadata-scale read and the identical shared scoring
    // tail. Same oracle as the in-plan row: a lossy serialization, torn
    // table (loud-refused at load) or dimension drift (ditto) cannot
    // reproduce the full-replay selection.
    Q("q_sample_dsir_stored", dsirOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val root = StoredArtifacts.of(s"dsir|$d") { r =>
        writeTable(s, r, lambdaTable(docs, col("doc_id") % 97 === 0))
      }
      selectWith(docs.filter(col("doc_id") % 97 =!= 0), loadTable(s, root), 100)
    },

    // the refresh face (the q_text_classifier_refresh pattern): the λ
    // table is first fit on half the corpus, then RE-FIT over the full
    // corpus onto the live dir — the dir-level swap writeTable now
    // commits through. Serving the loaded artifact against the same
    // full-replay oracle proves the refresh really installed the re-fit
    // table: the half-corpus λ could not match the full-corpus replay.
    Q("q_sample_dsir_refresh", dsirOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val root = StoredArtifacts.of(s"dsir-refresh|$d") { r =>
        writeTable(s, r,
          lambdaTable(docs.filter(col("doc_id") % 2 === 0), col("doc_id") % 97 === 0))
        writeTable(s, r, lambdaTable(docs, col("doc_id") % 97 === 0))
      }
      selectWith(docs.filter(col("doc_id") % 97 =!= 0), loadTable(s, root), 100)
    }
  )

  /** One oracle for the in-plan and the stored faces — the full replay
    * from the base table.
    */
  private def dsirOracleSql: String = (
      s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |feats AS (
         |  SELECT doc_id, ${h48Sql("f")} % $D AS b FROM (
         |    SELECT doc_id,
         |      unnest(list_concat(toks, ${shinglesFromTokensSql("toks", 2)})) AS f
         |    FROM toks
         |  )
         |),
         |tc AS (SELECT b, count(*) AS tcnt FROM feats WHERE doc_id % 97 = 0 GROUP BY b),
         |tt AS (SELECT CAST(sum(tcnt) AS DOUBLE) AS t FROM tc),
         |rf AS (SELECT * FROM feats WHERE doc_id % 97 <> 0),
         |rc AS (SELECT b, count(*) AS rcnt FROM rf GROUP BY b),
         |rt AS (SELECT CAST(sum(rcnt) AS DOUBLE) AS r FROM rc),
         |lam AS (
         |  SELECT b, round(ln((coalesce(tcnt, 0) + $Alpha) / (tt.t + ${Alpha * D}))
         |               - ln((rcnt + $Alpha) / (rt.r + ${Alpha * D})), 9) AS lam
         |  FROM rc LEFT JOIN tc USING (b), tt, rt
         |),
         |sc AS (
         |  SELECT doc_id, count(*) AS n_feats,
         |    CAST(sum(CAST(lam AS DECIMAL(20,9))) AS DOUBLE) AS logw_raw
         |  FROM rf JOIN lam USING (b) GROUP BY doc_id
         |)
         |SELECT doc_id, n_feats, round(logw_raw, 6) AS logw,
         |  round(logw_raw
         |        - ln(-ln((${hex8Sql("doc_id || ':dsir'")} + 0.5) / 4294967296.0)),
         |        6) AS sel_key
         |FROM sc
         |ORDER BY sel_key DESC, doc_id LIMIT 100""".stripMargin)
}
