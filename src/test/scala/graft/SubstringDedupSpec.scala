package graft

import graft.ext.SubstringDedup
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Exact substring dedup (ExactSubstr shape): planted duplicated spans are
  * recovered maximally, clean text yields nothing, and the stride
  * trade-off detects exactly the spans its length bound promises.
  */
class SubstringDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Random text from one test's own generator, so no test's input
    * depends on which tests ran before it. [[text]] (shared blocks, and
    * text meant to share nothing) draws lowercase letters and digits — 36^n distinct n-grams, so accidental 16-char
    * window collisions within a few hundred chars are impossible in
    * practice. Doc `d`'s own text draws six uppercase letters that no
    * other doc and no shared block uses, so no k-gram across a shared
    * block's edge occurs in another doc, and each planted span is exactly
    * its block.
    */
  private final class Text(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private def draw(n: Int, alphabet: String): String =
      Seq.fill(n)(alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
    def text(n: Int): String = draw(n, "abcdefghijklmnopqrstuvwxyz0123456789")
    def own(doc: Int, n: Int): String = {
      require(doc >= 0 && doc < 4, s"doc $doc has no alphabet of its own")
      draw(n, ('A' + 6 * doc until 'A' + 6 * doc + 6).map(_.toChar).mkString)
    }
  }

  private def spansOf(texts: Seq[String], k: Int, sample: Int = 1,
                      minDocs: Int = 2): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    SubstringDedup.duplicatedSpans(df, k, sample, minDocs)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("planted cross-doc duplicate is recovered as one maximal span in each doc") {
    val t = new Text(101)
    val shared = t.text(80)
    val a = t.own(0, 40) + shared + t.own(0, 30)
    val b = t.own(1, 55) + shared + t.own(1, 10)
    val spans = spansOf(Seq(a, b, t.own(2, 120)), k = 16)
    // maximal span = exactly the 80 shared chars, at each doc's offset
    assert(spans === Seq((0L, 41L, 120L), (1L, 56L, 135L)))
  }

  test("r17 agg+join duplicate marking ≡ the r16 window formulation (random corpus)") {
    // the optimization changed spansFromHashes/selfDedupCut internals from
    // count/min/max/row_number windows over (h1, h2) to a hash aggregate +
    // semi-join; this pins the two formulations equal on a corpus with
    // planted duplicates, overlaps, and periodic (self-overlapping) text
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val lr = new Text(7177)
    val shared = lr.text(60); val boiler = lr.text(25)
    val texts = Seq(
      lr.text(30) + shared + lr.text(20),
      shared + lr.text(44) + boiler,
      boiler + lr.text(70) + boiler,            // intra-doc repeat
      ("ab" * 30) + lr.text(40),                 // periodic, period < k
      lr.text(15) + ("ab" * 30),
      lr.text(150))
    // ids start NEGATIVE: selfDedupCut's r18 first-occurrence encoding
    // (doc_id·2⁴⁰ + pos as decimal) must stay order-exact and
    // pmod-decodable for negative doc_ids too — the shared span between
    // docs -2 and -1 pins fd < 0 through the encode/decode round-trip
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong - 2, t) }.toDF("doc_id", "text")
    val k = 16
    // reference: the r16 window shapes, inlined
    val pos = SubstringDedup.windowHashes(df, k, 1)
    val byH = Window.partitionBy("h1", "h2")
    val refSpanHits = pos
      .withColumn("mn", min(col("doc_id")).over(byH))
      .withColumn("mx", max(col("doc_id")).over(byH))
      .filter(col("mn") =!= col("mx"))
      .select("doc_id", "pos")
    val refSpans = SubstringDedup.mergeSpans(refSpanHits, k, k)
      .orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    val gotSpans = SubstringDedup.duplicatedSpans(df, k)
      .orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    assert(gotSpans === refSpans)

    val byHOrd = Window.partitionBy("h1", "h2").orderBy("doc_id", "pos")
    val refCutHits = pos
      .withColumn("rn", row_number().over(byHOrd))
      .withColumn("fd", first(col("doc_id")).over(byHOrd))
      .withColumn("fp", first(col("pos")).over(byHOrd))
      .filter(col("rn") > 1 &&
        !(col("fd") === col("doc_id") && col("pos") < col("fp") + k))
      .select("doc_id", "pos")
    val refCut = SubstringDedup.trimSpans(df,
        SubstringDedup.mergeSpans(refCutHits, k, k))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val gotCut = SubstringDedup.selfDedupCut(df, k)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(gotCut === refCut)
  }

  test("crossCorpusSpans small regime ≡ the r16 union+window formulation") {
    // ADVICE r17 #4: the probe-side broadcast semi-join switch had no
    // direct regime-equivalence pin. Reference = the LARGE-regime shape
    // inlined (union + side-tag window), exactly like the spansFromHashes
    // test above.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val lr = new Text(4211)
    val leak1 = lr.text(40); val leak2 = lr.text(25)
    val corpus = Seq(
      (1L, lr.text(30) + leak1 + lr.text(10)),
      (2L, leak2 + lr.text(50)),
      (3L, lr.text(80))).toDF("doc_id", "text")
    val probe = Seq(
      (100L, lr.text(5) + leak1),
      (101L, leak2 + leak2)).toDF("doc_id", "text")
    val k = 16
    val byH = Window.partitionBy("h1", "h2")
    val c = SubstringDedup.windowHashes(corpus, k, 1).withColumn("side", lit(0))
    val p = SubstringDedup.windowHashes(probe, k, 1).withColumn("side", lit(1))
    val refHits = c.unionByName(p)
      .withColumn("hit", max(col("side")).over(byH))
      .filter(col("side") === 0 && col("hit") === 1)
      .select("doc_id", "pos")
    val ref = SubstringDedup.mergeSpans(refHits, k, k)
      .orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    val got = SubstringDedup.crossCorpusSpans(corpus, probe, k)
      .orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    assert(got === ref)
    assert(got.nonEmpty, "planted leaks must surface (vacuous pass otherwise)")
  }

  test("jaccard df-cap algebra: anti-join(hot set) ≡ count-over-window cap") {
    // ADVICE r17 #4 (second missing switch): `df ≤ cap` filtering via an
    // anti-join against the above-cap hot set must equal the r16
    // count-over-(h) window form for ANY (doc_id, h) frame — pinned here
    // on a frame with a hot hash above the cap, one exactly AT the cap,
    // and sparse tails
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val cap = 3
    val rows =
      (1 to 10).map(i => (i.toLong, "hot")) ++      // df 10 > cap: dropped
      (1 to 3).map(i => (i.toLong, "atcap")) ++      // df 3 == cap: kept
      Seq((1L, "solo"), (2L, "pair"), (3L, "pair"))
    val sh0 = rows.toDF("doc_id", "h")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("doc_id", "h").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val win = rowsOf(
      sh0.withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
        .filter(col("df") <= cap).drop("df"))
    val hot = sh0.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("h")
    val anti = rowsOf(sh0.join(hot, Seq("h"), "left_anti"))
    assert(anti === win)
    assert(win.size === 6)
  }

  test("unique text produces no spans; docs shorter than k are ignored") {
    val t = new Text(102)
    assert(spansOf(Seq(t.text(200), t.text(200), "short"), k = 16).isEmpty)
  }

  test("two disjoint shared regions in one doc stay two spans (gap > k)") {
    val t = new Text(103)
    val s1 = t.text(40); val s2 = t.text(40)
    val a = s1 + t.own(0, 50) + s2
    val b = t.own(1, 20) + s1 + t.own(1, 33) + s2 + t.own(1, 9)
    val spans = spansOf(Seq(a, b), k = 16)
    assert(spans === Seq(
      (0L, 1L, 40L), (0L, 91L, 130L),
      (1L, 21L, 60L), (1L, 94L, 133L)))
  }

  test("abutting regions shared with DIFFERENT partners merge into one span") {
    val t = new Text(104)
    val x = t.text(40); val y = t.text(40)
    val a = x + y              // x shared with doc1, y with doc2, adjacent
    val b = t.own(1, 20) + x + t.own(1, 30)
    val c = t.own(2, 33) + y + t.own(2, 9)
    val spans = spansOf(Seq(a, b, c), k = 16)
    // doc 0: x-windows end at pos 25, y-windows start at 41 — gap 16 ≤ k,
    // so the two regions coalesce into the single maximal duplicated range
    assert(spans === Seq(
      (0L, 1L, 80L),
      (1L, 21L, 60L),
      (2L, 34L, 73L)))
  }

  test("content-defined sampling detects copies at ANY relative alignment") {
    val t = new Text(105)
    val shared = t.text(300)
    // offsets 37 vs 0 differ by a non-multiple of sample=4: a positional
    // stride would never align the two copies' windows; content-defined
    // selection keeps the same windows in both docs by construction
    val a = t.own(0, 37) + shared + t.own(0, 20)
    val b = shared + t.own(1, 60)
    val spans = spansOf(Seq(a, b), k = 16, sample = 4)
    val d0 = spans.filter(_._1 == 0L); val d1 = spans.filter(_._1 == 1L)
    assert(d0.nonEmpty && d1.nonEmpty)
    // all reported spans sit inside the true copies (+k−1 window tail)
    assert(d0.forall { case (_, s, e) => s >= 38L && e <= 37L + 300L })
    assert(d1.forall { case (_, s, e) => s >= 1L && e <= 300L })
    // and both docs select the SAME within-copy offsets: doc0 positions
    // minus 37 must equal doc1 positions
    assert(d0.map { case (_, s, e) => (s - 37, e - 37) } === d1.map { case (_, s, e) => (s, e) })
  }

  test("minDocs=1 surfaces within-document repetition that minDocs=2 hides") {
    val t = new Text(106)
    val rep = t.text(30)
    val a = rep + t.own(0, 40) + rep
    val only = Seq(a, t.own(1, 100))
    assert(spansOf(only, k = 16, minDocs = 2).isEmpty)
    val within = spansOf(only, k = 16, minDocs = 1)
    assert(within === Seq((0L, 1L, 30L), (0L, 71L, 100L)))
  }

  test("minDocs=3 (dense_rank path): pairs are ignored, triples are reported") {
    val t = new Text(107)
    val pairOnly = t.text(40)
    val triple = t.text(40)
    val texts = Seq(
      t.own(0, 10) + pairOnly + t.own(0, 5) + triple,
      pairOnly + t.own(1, 20) + t.own(1, 35),
      t.own(2, 25) + triple + t.own(2, 12),
      triple + t.own(3, 55))
    val spans = spansOf(texts, k = 16, minDocs = 3)
    // the pair-shared region must NOT appear; the triple-shared one must,
    // in all three of its docs
    assert(spans.map(_._1).distinct.sorted === Seq(0L, 2L, 3L))
    assert(spans === Seq((0L, 56L, 95L), (2L, 26L, 65L), (3L, 1L, 40L)))
  }

  test("cross-corpus spans: probe text located in corpus docs, probe side never reported") {
    import spark.implicits._
    val t = new Text(108)
    val evalQ = t.text(60) // a "benchmark question" leaked into training text
    val corpus = Seq(
      (10L, t.own(0, 30) + evalQ + t.own(0, 25)), // contaminated
      (11L, t.own(1, 150)),                       // clean
      (12L, evalQ)                                // the leak verbatim
    ).toDF("doc_id", "text")
    val probe = Seq((900L, t.own(2, 20) + evalQ + t.own(2, 5))).toDF("doc_id", "text")
    val spans = graft.ext.SubstringDedup.crossCorpusSpans(corpus, probe, k = 16)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spans === Seq((10L, 31L, 90L), (12L, 1L, 60L)))
  }

  test("cross-corpus spans: corpus-internal duplication alone is NOT flagged") {
    import spark.implicits._
    val t = new Text(109)
    val dup = t.text(50)
    val corpus = Seq((0L, dup + t.own(0, 20)), (1L, t.own(1, 10) + dup))
      .toDF("doc_id", "text") // duplicated between corpus docs only
    val probe = Seq((9L, t.own(2, 100))).toDF("doc_id", "text")
    assert(graft.ext.SubstringDedup.crossCorpusSpans(corpus, probe, k = 16).count() === 0L)
  }

  test("trimSpans cuts exactly the spans: interior, prefix, full-doc, untouched") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aaaaaXXXXXbbbbb"), // interior span
      (1L, "YYYYYccccc"),      // prefix span
      (2L, "ZZZZZZZZZZ"),      // fully covered -> empty
      (3L, "untouched doc")    // no spans
    ).toDF("doc_id", "text")
    val spans = Seq(
      (0L, 6L, 10L), (1L, 1L, 5L), (2L, 1L, 10L)
    ).toDF("doc_id", "span_start", "span_end")
    val out = graft.ext.SubstringDedup.trimSpans(docs, spans)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq(
      (0L, "aaaaabbbbb"), (1L, "ccccc"), (2L, ""), (3L, "untouched doc")))
  }

  test("trimSpans with multiple spans per doc keeps the between-pieces in order") {
    import spark.implicits._
    val docs = Seq((7L, "11AAA22BBB33")).toDF("doc_id", "text")
    val spans = Seq((7L, 3L, 5L), (7L, 8L, 10L)).toDF("doc_id", "span_start", "span_end")
    val out = graft.ext.SubstringDedup.trimSpans(docs, spans).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((7L, "112233")))
  }

  test("trim of crossCorpusSpans removes every leaked window end-to-end") {
    import spark.implicits._
    val t = new Text(110)
    val leak = t.text(60)
    val corpus = Seq((0L, t.own(0, 30) + leak + t.own(0, 20)), (1L, t.own(1, 90)))
      .toDF("doc_id", "text")
    val probe = Seq((9L, leak)).toDF("doc_id", "text")
    val spans = graft.ext.SubstringDedup.crossCorpusSpans(corpus, probe, k = 16)
    val cleaned = graft.ext.SubstringDedup.trimSpans(corpus, spans)
    // no 16-char window of the cleaned corpus may exist in the probe
    val residual = graft.ext.SubstringDedup.crossCorpusSpans(
      cleaned.withColumnRenamed("text_clean", "text"), probe, k = 16)
    assert(residual.count() === 0L)
    // and the clean doc is untouched
    val d1 = cleaned.filter(col("doc_id") === 1L).collect()(0).getString(1)
    assert(d1.length === 90)
  }

  test("winnowing detects every span >= k+w-1 at ANY alignment (hard guarantee)") {
    import spark.implicits._
    val k = 16; val w = 8
    // exactly the guarantee threshold: k + w - 1 = 23 shared chars,
    // at offsets differing by a non-multiple of anything
    val t = new Text(111)
    val shared = t.text(23)
    val docs = Seq(
      (0L, t.own(0, 37) + shared + t.own(0, 21)),
      (1L, t.own(1, 4) + shared + t.own(1, 50))
    ).toDF("doc_id", "text")
    val spans = graft.ext.SubstringDedup.duplicatedSpansWinnowed(docs, k = k, w = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.exists(_._1 == 0L) && spans.exists(_._1 == 1L),
      s"guarantee violated: $shared not detected in both docs (${spans.toSeq})")
    // reported extents stay inside the true copies (+ window tail)
    assert(spans.filter(_._1 == 0L).forall { case (_, s, e) => s >= 38L && e <= 37L + 23L })
    assert(spans.filter(_._1 == 1L).forall { case (_, s, e) => s >= 5L && e <= 4L + 23L })
  }

  test("winnowing detects periodic (self-similar) shared content despite hash ties") {
    import spark.implicits._
    val t = new Text(112)
    val periodic = "ab" * 30 // every window hash equal -> worst tie case
    val docs = Seq(
      (0L, t.own(0, 11) + periodic + t.own(0, 9)),
      (1L, t.own(1, 26) + periodic + t.own(1, 3))
    ).toDF("doc_id", "text")
    val spans = graft.ext.SubstringDedup.duplicatedSpansWinnowed(docs, k = 16, w = 8)
      .collect().map(r => r.getLong(0)).distinct.sorted
    assert(spans.toSeq === Seq(0L, 1L))
  }

  test("selfDedupCut keeps the first occurrence, cuts every later one, leaves no residual dups") {
    import spark.implicits._
    val t = new Text(113)
    val x = t.text(60)
    val docs = Seq(
      (0L, t.own(0, 20) + x + t.own(0, 10)), // first occurrence (least doc_id) — kept whole
      (1L, t.own(1, 15) + x + t.own(1, 25)), // later cross-doc copy — cut
      (2L, x + t.own(2, 5) + t.own(2, 40))   // another later copy — cut
    ).toDF("doc_id", "text")
    val out = graft.ext.SubstringDedup.selfDedupCut(docs, k = 16)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out(0)._2.length === 90) // canonical doc untouched
    assert(out(1)._2.length === 40 && !out(1)._2.contains(x.take(16)))
    assert(out(2)._2.length === 45)
    // one copy of every duplicated k-gram remains => no dup spans survive
    val cleaned = docs.sparkSession.createDataFrame(
      docs.sparkSession.sparkContext.parallelize(
        out.map(t => org.apache.spark.sql.Row(t._1, t._2)).toIndexedSeq),
      docs.schema)
    assert(graft.ext.SubstringDedup.duplicatedSpans(cleaned, k = 16).count() === 0L)
  }

  test("selfDedupCut on self-overlapping periodic text keeps the first k chars intact") {
    import spark.implicits._
    // period-1 text: every 32-gram is identical, all occurrences overlap
    // the first. Without the keep-first overlap guard the cut spans
    // island-merge INTO the first occurrence and the doc collapses to one
    // char — zero surviving copies of a duplicated gram.
    val docs = Seq((0L, "a" * 100)).toDF("doc_id", "text")
    val out = graft.ext.SubstringDedup.selfDedupCut(docs, k = 32).collect()
    assert(out(0).getString(1) === "a" * 32)
  }

  test("mergeGap = 0 is honored as a minimal gap, not silently replaced by the default") {
    import spark.implicits._
    val t = new Text(114)
    val x = t.text(20)
    // two copies of x in each of two docs, separated by > k noise: with
    // gap 0 the per-copy windows still merge only where starts are
    // adjacent... gap 0 means consecutive starts (diff <= 0) never merge,
    // so every flagged position becomes its own span
    val docs = Seq((0L, x + t.own(0, 40) + x), (1L, x + t.own(1, 35) + x))
      .toDF("doc_id", "text")
    val dflt = graft.ext.SubstringDedup.duplicatedSpans(docs, k = 16)
    val zero = graft.ext.SubstringDedup.duplicatedSpans(docs, k = 16, mergeGap = 0)
    // default merges each copy's overlapping windows into one span; gap 0
    // leaves one span PER flagged window start — strictly more rows
    assert(zero.count() > dflt.count())
    val bad = intercept[IllegalArgumentException](
      graft.ext.SubstringDedup.duplicatedSpans(docs, k = 16, mergeGap = -2))
    assert(bad.getMessage.contains("mergeGap"))
  }

  test("selfDedupCut within one doc keeps the first copy only") {
    import spark.implicits._
    val t = new Text(115)
    val rep = t.text(40)
    val docs = Seq((5L, rep + t.own(0, 30) + rep)).toDF("doc_id", "text")
    val out = graft.ext.SubstringDedup.selfDedupCut(docs, k = 16).collect()
    val clean = out(0).getString(1)
    assert(clean.length === 70 && clean.startsWith(rep)) // kept first copy + middle
    assert(clean.lastIndexOf(rep.take(16)) === 0) // the second copy is gone
  }

  test("selfDedupCut's first-occurrence decode does not depend on allowPrecisionLoss") {
    import spark.implicits._
    val t = new Text(116)
    val x = t.text(60)
    // doc_ids near both ends of the long range: doc_id·2⁴⁰ + pos needs 38
    // decimal digits, and the decode must stay exact whichever decimal
    // typing rule the session selects
    val ids = Seq(-4000000000000000003L, 4000000000000000001L, Long.MaxValue - 1)
    // around x, letters no other doc and x use: no k-gram across x's ends
    // is shared, so exactly x is cut from the later copies
    val docs = ids.zipWithIndex.map { case (id, i) =>
      (id, t.own(i, 20) + x + t.own(i, 10))
    }.toDF("doc_id", "text")
    val key = "spark.sql.decimalOperations.allowPrecisionLoss"
    val saved = spark.conf.getOption(key)
    def cut(allow: Boolean) = {
      spark.conf.set(key, allow.toString)
      SubstringDedup.selfDedupCut(docs, k = 16).collect()
        .map(r => r.getLong(0) -> r.getString(1).length).toMap
    }
    try {
      val lossy = cut(allow = true)
      // the least doc_id holds the first occurrence and stays whole
      assert(lossy == Map(ids(0) -> 90, ids(1) -> 30, ids(2) -> 30))
      assert(cut(allow = false) == lossy)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("duplication profile: ppm fraction and zero rows for clean docs") {
    import spark.implicits._
    val t = new Text(117)
    val shared = t.text(50)
    val a = shared + t.own(0, 50) // 100 chars, 50 duplicated → 500000 ppm
    val b = t.own(1, 25) + shared + t.own(1, 25)
    val df = Seq((0L, a), (1L, b), (2L, t.own(2, 80)))
      .toDF("doc_id", "text")
    val prof = SubstringDedup.duplicationProfile(df, k = 16)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(prof === Seq(
      (0L, 1L, 50L, 500000L),
      (1L, 1L, 50L, 500000L),
      (2L, 0L, 0L, 0L)))
  }
}
