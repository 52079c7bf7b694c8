package graft.ext

import graft.{CacheTracker, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash._

/** Trained quality classifier: logistic regression over hashed
  * bag-of-words features, trained IN the engine — the CCNet/GPT-3-style
  * "does this look like the reference corpus" filter (public technique;
  * a linear classifier over hashed n-grams is the fastText model shape).
  * The positive class is the `src0` domain (the stand-in high-quality
  * reference); the trained score is the per-document quality signal a
  * curation pipeline thresholds on.
  *
  * Features: unigrams hashed into [[D]] buckets ([[TextHash.h48]] mod D),
  * L1-normalized per document (x_b = cnt_b / n_tokens). Training is
  * [[Rounds]] full-batch gradient-descent steps from w = 0, following the
  * [[Similarity.refineCentroids]] playbook: per round
  *
  *  - score: one hash aggregate keyed by doc_id over the exploded
  *    (doc, bucket, x) features joined to the D-row broadcast weight
  *    table → per-doc residual r = σ(z) − y;
  *  - gradient: residuals joined back onto the features (shuffle keyed by
  *    doc_id), then a map-side-combined hash aggregate whose OUTPUT is
  *    ≤ D rows; the weight update `round(w − η·g, 9)` is computed IN the
  *    engine and collected (metadata-scale, like the Lloyd means).
  *
  * At 100 TB: two bounded-output shuffles per round and a D-row collect —
  * no doc-doc pairing, no driver-side loops over data. Serving does not
  * even need the join: [[scoreInline]] folds the trained weights over the
  * token array as a pure projection (zero shuffle), pinned ≈-equal to the
  * training-shaped score by spec.
  *
  * Cross-engine exactness (the DuckDB oracle unrolls the rounds as CTEs,
  * k-means-oracle style): every per-term product is rounded to 12dp and
  * summed as DECIMAL(28,12) (order-independent), σ is rounded to 9dp,
  * gradients and weights to 9dp — both engines derive bit-identical
  * weights, so even the trained model is oracle-checked.
  */
object QualityClassifier {

  /** Hash buckets for the unigram feature space. */
  val D = 256

  /** Full-batch GD rounds and learning rate. */
  val Rounds = 2
  val Eta = 2.0

  /** Positive-class predicate: the reference-quality domain. */
  private val TargetSource = "src0"

  /** (doc_id, y, b, cnt, n): per-(doc,bucket) counts + per-doc token
    * count. One explode + one hash aggregate, cached across rounds.
    */
  private[graft] def featDf(docs: DataFrame): DataFrame =
    graft.Tables.spreadSmall(docs, col("doc_id"))
      .select(col("doc_id"),
        when(col("source") === TargetSource, 1.0).otherwise(0.0).as("y"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("y"), (h48(col("tok")) % D).as("b"))
      .groupBy("doc_id", "y", "b").agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))

  /** Train [[Rounds]] GD steps; returns (weights dense over 0..D-1, bias).
    * All arithmetic happens in-engine; the driver only holds the D-row
    * update between rounds.
    *
    * `doc_id` must be unique in `docs`; it is not checked, since a check
    * would cost a pass over the corpus. Rows that share a `doc_id` train
    * as one document: with the same `source`, their texts are pooled into
    * one term distribution; across sources, each row's term frequencies
    * are divided by their combined token count, every term takes the
    * residual of both rows, and the gradient normalizer counts the id
    * twice where the DuckDB oracle counts it once, so the weights no
    * longer match the oracle.
    */
  def train(docs: DataFrame, rounds: Int = Rounds,
            eta: Double = Eta): (IndexedSeq[Double], Double) = {
    require(rounds > 0 && eta > 0, "rounds and eta must be positive")
    val feats = featDf(docs)
      .select(col("doc_id"), col("y"), col("b"),
        (col("cnt").cast("double") / col("n")).as("x"))
      .transform(CacheTracker.cached)
    var w: IndexedSeq[Double] = IndexedSeq.fill(D)(0.0)
    var bias = 0.0
    // the gradient normalizer |docs-with-features| is read off round 1's
    // cached residuals (exactly one row per scored doc) instead of a
    // separate distinct+count job over the corpus-scale feature frame —
    // same number, one bounded count on an already-cached 1-row/doc
    // frame, one full feature-frame pass fewer (r18, guide §1.2)
    var nDocs = 0.0
    var r = 0
    while (r < rounds) {
      val warr = typedLit(w)
      // residuals: one shuffle keyed by doc_id; cached for the two
      // bounded aggregates below (gradient + bias). Plain cache(), NOT
      // CacheTracker.cached: this round's dataset lives and dies inside
      // this function (unpersisted below), and routing it through the
      // tracker would register a refcount the manual release bypasses.
      val resid = (
        feats
          .withColumn("w", element_at(warr, col("b").cast("int") + 1))
          .groupBy("doc_id", "y")
          .agg((sum(round(col("x") * col("w"), 12).cast("decimal(28,12)"))
                 .cast("double") + bias).as("z"))
          .select(col("doc_id"),
            (round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 9) - col("y")).as("r"))
        ).cache()
      if (r == 0) nDocs = resid.count().toDouble
      val gRows = feats.join(resid, Seq("doc_id"))
        .groupBy("b")
        .agg(round(
          sum(round(col("r") * col("x"), 12).cast("decimal(28,12)"))
            .cast("double") / nDocs, 9).as("g"))
        .select(col("b"),
          round(element_at(warr, col("b").cast("int") + 1) - lit(eta) * col("g"), 9)
            .as("wn"))
        .collect()
      val gBias = resid
        .agg(round(
          sum(round(col("r"), 12).cast("decimal(28,12)"))
            .cast("double") / nDocs, 9).as("g"),
          round(lit(bias) - lit(eta) * round(
            sum(round(col("r"), 12).cast("decimal(28,12)"))
              .cast("double") / nDocs, 9), 9).as("bn"))
        .collect()(0)
      resid.unpersist()
      val upd = gRows.map(row => row.getLong(0).toInt -> row.getDouble(1)).toMap
      w = (0 until D).map(b => upd.getOrElse(b, w(b)))
      bias = gBias.getDouble(1)
      r += 1
    }
    // feats is fully consumed by the rounds above. Inside a CacheTracker
    // scope the runner releases it at scope exit; outside one (library
    // caller) nothing else ever could — the handle never escapes — so
    // drop it here rather than strand a corpus-scale cache entry.
    if (!CacheTracker.inScope) feats.unpersist(false)
    (w, bias)
  }

  /** Serving-path score: fold the trained weights over the token array as
    * a single projection — zero shuffle, zero join; the form a 100 TB
    * scoring pass (or a streaming gate) uses. Numerically ≈ the
    * training-shaped score (same math, different summation grouping);
    * pinned within 1e-6 by QualityClassifierSpec.
    */
  def scoreInline(text: Column, w: IndexedSeq[Double], bias: Double): Column = {
    val warr = typedLit(w)
    val toks = tokens(text)
    val zsum = aggregate(toks,
      lit(BigDecimal(0)).cast("decimal(28,12)"),
      (acc, t) => (acc +
        round(element_at(warr, (h48(t) % D).cast("int") + 1), 12)
          .cast("decimal(28,12)")).cast("decimal(28,12)"))
    // a token-less document has no features: its margin is just the bias
    // (zsum/0 would be null and silently poison a downstream filter)
    val z = when(size(toks) > 0, zsum.cast("double") / size(toks) + bias)
      .otherwise(lit(bias))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** The exact training-shaped scorer from a (possibly at-rest) model:
    * features joined to the broadcast D-row weight table, per-doc decimal
    * sum, the identical arithmetic the oracle's final CTE replays — ONE
    * definition shared by q_text_classifier (freshly-trained weights) and
    * q_text_classifier_stored (weights loaded from disk), so stored
    * serving cannot drift from the oracle-checked semantics.
    * ([[scoreInline]] stays the zero-shuffle streaming face — same math,
    * different summation grouping, ≈-equal within 1e-6.)
    */
  def scoreJoined(docs: DataFrame, w: IndexedSeq[Double], bias: Double): DataFrame = {
    val warr = typedLit(w)
    featDf(docs)
      .select(col("doc_id"), col("y"), col("b"),
        (col("cnt").cast("double") / col("n")).as("x"))
      .withColumn("w", element_at(warr, col("b").cast("int") + 1))
      .groupBy("doc_id", "y")
      .agg((sum(round(col("x") * col("w"), 12).cast("decimal(28,12)"))
             .cast("double") + bias).as("z"))
      .select(col("doc_id"), (col("y") === 1.0).as("is_target"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"),
        (round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6) >= 0.5).as("pred"))
  }

  /** Persist the trained model — the at-rest face the other trained
    * artifacts already have (LmGate count tables, BPE vocab, DSIR λ,
    * Bloom bits): a D-row weight table plus a 1-row meta carrying the
    * bias AND the feature dimension. The dimension is load-bearing:
    * serving hashes tokens mod the COMPILE-TIME [[D]], so a model trained
    * under a different bucket count would silently mis-route every
    * feature — [[loadModel]] refuses the mismatch loudly (the
    * IndexVersion stance for model artifacts).
    */
  def writeModel(spark: org.apache.spark.sql.SparkSession, dir: String,
                 w: IndexedSeq[Double], bias: Double): Unit = {
    import spark.implicits._
    // both files land in a staging sibling and promote as ONE rename
    // (IndexMaintenance/DirSwap): the old delete-then-write committed meta
    // before weights, so a re-train crash between the two paired the NEW
    // (bias, d) meta with the OLD weight table — it passed every loadModel
    // check and served silently wrong scores. With the dir-level swap a
    // crash leaves either the old or the new model complete, never a mix,
    // and the stranded retire state heals at the next load.
    IndexMaintenance.withLease(spark, dir, "classifier-write") {
      IndexMaintenance.swapTree(spark, dir) { staging =>
        Seq((bias, w.length)).toDF("bias", "d")
          .coalesce(1).write.parquet(s"$staging/meta.parquet")
        w.zipWithIndex.map { case (v, b) => (b, v) }.toDF("b", "w")
          .coalesce(1).write.parquet(s"$staging/weights.parquet")
      }
    }
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession,
                dir: String): (IndexedSeq[Double], Double) = {
    IndexMaintenance.heal(spark, dir)
    val m = Tables.readParquet(spark, s"$dir/meta.parquet").collect()(0)
    require(m.getAs[Int]("d") == D,
      s"classifier model at $dir was trained over ${m.getAs[Int]("d")} " +
        s"hash buckets but this engine scores mod $D — every feature " +
        "would mis-route; retrain the model")
    val rows = Tables.readParquet(spark, s"$dir/weights.parquet").collect()
      .map(r => r.getAs[Int]("b") -> r.getAs[Double]("w")).toMap
    require(rows.size == D, s"classifier model at $dir holds ${rows.size} " +
      s"of $D weight rows — the artifact is torn; retrain the model")
    ((0 until D).map(rows), m.getAs[Double]("bias"))
  }

  // ---------------- the oracle: training unrolled as CTEs ----------------

  /** One unrolled GD round as DuckDB CTEs — the SQL mirror of a [[train]]
    * iteration: residuals from the current weights `w$t`/`bias$t`, then
    * `w${t+1}`/`bias${t+1}` via the 9dp-rounded update.
    */
  private def gdRoundSql(t: Int): String =
    s"""z$t AS (
       |  SELECT x.doc_id, x.y,
       |    CAST(sum(CAST(round(x.x * w.w, 12) AS DECIMAL(28,12))) AS DOUBLE)
       |      + (SELECT bias FROM bias$t) AS z
       |  FROM x JOIN w$t w USING (b) GROUP BY x.doc_id, x.y
       |),
       |p$t AS (
       |  SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 9) - y AS r FROM z$t
       |),
       |g$t AS (
       |  SELECT b,
       |    round(CAST(sum(CAST(round(p.r * x.x, 12) AS DECIMAL(28,12))) AS DOUBLE)
       |          / (SELECT nn FROM ntot), 9) AS g
       |  FROM x JOIN p$t p USING (doc_id) GROUP BY b
       |),
       |w${t + 1} AS (
       |  SELECT w.b, round(w.w - $Eta * coalesce(g.g, 0.0), 9) AS w
       |  FROM w$t w LEFT JOIN g$t g USING (b)
       |),
       |bias${t + 1} AS (
       |  SELECT round((SELECT bias FROM bias$t) - $Eta * round(
       |    CAST(sum(CAST(round(r, 12) AS DECIMAL(28,12))) AS DOUBLE)
       |      / (SELECT nn FROM ntot), 9), 9) AS bias
       |  FROM p$t
       |)""".stripMargin

  /** One oracle for the trained and the stored faces — the full unrolled
    * replay; a stored model that lost precision, a torn weight table, or
    * a serving join that drifted from the training arithmetic cannot
    * match.
    */
  private def classifierOracleSql: String = {
      val rounds = (0 until Rounds).map(gdRoundSql).mkString(",\n")
      s"""WITH tf AS (
         |  SELECT doc_id, y, ${h48Sql("tok")} % $D AS b, count(*) AS cnt FROM (
         |    SELECT doc_id,
         |      CASE WHEN source = '$TargetSource' THEN 1.0 ELSE 0.0 END AS y,
         |      unnest(${tokensSql("text")}) AS tok
         |    FROM documents
         |  ) GROUP BY doc_id, y, b
         |),
         |nd AS (SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS n FROM tf GROUP BY doc_id),
         |x AS (SELECT doc_id, y, b, cnt / n AS x FROM tf JOIN nd USING (doc_id)),
         |ntot AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nd),
         |w0 AS (SELECT CAST(t.b AS BIGINT) AS b, 0.0 AS w FROM range($D) t(b)),
         |bias0 AS (SELECT 0.0 AS bias),
         |$rounds,
         |zf AS (
         |  SELECT x.doc_id, x.y,
         |    CAST(sum(CAST(round(x.x * w.w, 12) AS DECIMAL(28,12))) AS DOUBLE)
         |      + (SELECT bias FROM bias$Rounds) AS z
         |  FROM x JOIN w$Rounds w USING (b) GROUP BY x.doc_id, x.y
         |)
         |SELECT doc_id, y = 1.0 AS is_target,
         |  round(1.0 / (1.0 + exp(-z)), 6) AS score,
         |  round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS pred
         |FROM zf ORDER BY doc_id""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    Q("q_text_classifier", classifierOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (w, bias) = train(docs)
      scoreJoined(docs, w, bias).orderBy("doc_id")
    },

    // ---- the trained model AT REST, served from disk ----
    // The last trained scorer gets the same at-rest lifecycle as LmGate /
    // BPE / DSIR / Bloom: training persists the D-row weight table + the
    // (bias, dimension) meta once (memoized per JVM+dataset — write-once
    // in production), and scoring any batch loads the FROZEN artifact —
    // two metadata-scale reads, then the same broadcast-join projection
    // as the declared row. Same oracle: the stored model must reproduce
    // the in-engine-trained weights bit-for-bit through the full
    // unrolled-GD replay, so a lossy serialization, torn weight table
    // (loud-refused at load) or dimension drift (ditto) cannot pass.
    Q("q_text_classifier_stored", classifierOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val root = StoredArtifacts.of(s"classifier|$d") { r =>
        val (w, bias) = train(docs)
        writeModel(s, r, w, bias)
      }
      val (w, bias) = loadModel(s, root)
      scoreJoined(docs, w, bias).orderBy("doc_id")
    },

    // ---- re-fit over the grown corpus: the refresh face ----
    // The drift sibling of AnnIndex.retrain for the trained scorer: a
    // model trained on the original corpus keeps scoring as admitted
    // batches accumulate, silently mis-calibrated against what it now
    // gates. The refresh is a re-train over the grown corpus committed
    // onto the LIVE model dir — which the round-16 writeModel makes safe
    // (dir-level staging+promote; a crash leaves the old model serving,
    // never a new-meta/old-weights mix). The row builds the model on HALF
    // the corpus, refreshes it over the full corpus, and serves the
    // loaded artifact against the SAME full-unrolled-GD oracle as the
    // stored row: if the refresh had not actually replaced the weights
    // (a swap that silently kept the stale model), the half-corpus
    // weights could not hash-match the full-corpus replay.
    Q("q_text_classifier_refresh", classifierOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val root = StoredArtifacts.of(s"classifier-refresh|$d") { r =>
        val (w0, b0) = train(docs.filter(col("doc_id") % 2 === 0))
        writeModel(s, r, w0, b0)                    // the original model
        val (w1, b1) = train(docs)                  // corpus + admitted
        writeModel(s, r, w1, b1)                    // refresh on the live dir
      }
      val (w, bias) = loadModel(s, root)
      scoreJoined(docs, w, bias).orderBy("doc_id")
    }
  )
}
