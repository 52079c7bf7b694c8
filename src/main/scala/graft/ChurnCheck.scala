package graft

import graft.ext.{Bm25Index, Dedup, DedupIndex, SubstringIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Append-churn scale instrument: the declared append rows prove ONE
  * batch; production is K successive batches, and the honest cost curve is
  * "probe latency after each append" — every append adds part files to the
  * touched bucket directories, so probe cost grows with FILE count even
  * when row count barely moves. This main drives 10 successive appends
  * into the band and BM25 trees, measures probe/search latency and the
  * tree's data-file count after each, then compacts and measures once more
  * — the motivating curve for the round-15 maintenance work (where
  * compaction pays is read directly off the output).
  *
  * Also runs the substring BACKFILL probe — a corpus-sized slice re-checked
  * against the stored window tree with `broadcastBatch = false` (the
  * production caller of the escape hatch: a forced broadcast would
  * materialize the slice's full window set on the driver via the DPP
  * subquery — the 100×-observed OOM) — against the same probe with the
  * default broadcast at this bounded scale, recording both times.
  *
  * Probes, searches and backfills are timed as [[Harness.scopedNoop]] runs,
  * min of SPARK_GRAFT_REPS (the ScaleCheck estimator). The churn fixtures
  * (the banded corpus and the probe batch) stay cached for the whole run,
  * so between reps only garbage is collected — the scope already released
  * each run's own caches. A compaction rewrites the tree it measures, so
  * it is timed once: a second rep would compact an already compacted tree.
  *
  * Usage: `sbt "runMain graft.ChurnCheck [sfDir]"`, knobs SPARK_GRAFT_CPUS
  * / SPARK_GRAFT_REPS. Prints one JSON line (`scripts/measure.sh churn`;
  * merged into SCALING.json as the `append_churn` block).
  */
object ChurnCheck {
  private val Batches = 10

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Main.session("graft-churn")

    def timed(build: => DataFrame): Double =
      (1 to reps).map { _ =>
        val dt = Harness.seconds(Harness.scopedNoop(build))
        System.gc()
        dt
      }.min
    def timedOnce(body: => Unit): Double = {
      val dt = Harness.seconds(CacheTracker.scope(body))
      System.gc()
      dt
    }

    def dataFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    def fresh(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft-churn-$tag")
      d.toFile.deleteOnExit(); d.toString
    }
    def fmt(d: Double): String = BigDecimal(d)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    // ---- band-index churn: write 2/12, append one /12-slice at a time ----
    val banded = Dedup.mhBandedDf(spark, sfDir).cache()
    val probeBatch = banded.filter(col("doc_id") % 101 === 0).cache()
    probeBatch.count()
    val dedupDir = fresh("dedup")
    DedupIndex.write(banded.filter(pmod(col("doc_id"), lit(12)) < 2), dedupDir)
    val dedupCurve = (0 until Batches).map { i =>
      DedupIndex.append(
        banded.filter(pmod(col("doc_id"), lit(12)) === i + 2), dedupDir)
      val t = timed(DedupIndex.probe(DedupIndex.load(spark, dedupDir), probeBatch))
      (t, dataFiles(dedupDir))
    }
    val tDedupCompact = timedOnce(DedupIndex.compact(spark, dedupDir))
    val dedupAfter = (
      timed(DedupIndex.probe(DedupIndex.load(spark, dedupDir), probeBatch)),
      dataFiles(dedupDir))

    // ---- BM25 churn: same slicing, search latency after each append ----
    val docs = Tables.documents(spark, sfDir)
    val terms = Seq("vector", "stream", "window", "merge")
    val bmDir = fresh("bm25")
    Bm25Index.write(docs.filter(pmod(col("doc_id"), lit(12)) < 2), bmDir)
    val bmCurve = (0 until Batches).map { i =>
      Bm25Index.append(
        docs.filter(pmod(col("doc_id"), lit(12)) === i + 2), bmDir)
      val t = timed(Bm25Index.search(Bm25Index.load(spark, bmDir), terms, 20))
      (t, dataFiles(s"$bmDir/postings.parquet"))
    }
    val tBmCompact = timedOnce(Bm25Index.compact(spark, bmDir))
    val bmAfter = (
      timed(Bm25Index.search(Bm25Index.load(spark, bmDir), terms, 20)),
      dataFiles(s"$bmDir/postings.parquet"))

    // ---- substring backfill: corpus-sized re-check, both join modes ----
    val subDir = fresh("substr")
    SubstringIndex.write(docs.filter(col("doc_id") % 2 === 0), subDir)
    val subIdx = SubstringIndex.load(spark, subDir)
    val backfill = docs.filter(col("doc_id") % 2 =!= 0)
    val tNoBc = timed(SubstringIndex.probe(subIdx, backfill, broadcastBatch = false))
    val tBc = timed(SubstringIndex.probe(subIdx, backfill))

    def curveJson(c: Seq[(Double, Int)]): String =
      c.map { case (t, f) => s"""{"sec":${fmt(t)},"files":$f}""" }
        .mkString("[", ",", "]")
    println(
      s"""{"kind":"append_churn","sf":${Harness.jsonStr(sfDir)},"reps":$reps,"stat":"min",""" +
      s""""batches":$Batches,""" +
      s""""dedup":{"after_each_append":${curveJson(dedupCurve)},""" +
      s""""compact_sec":${fmt(tDedupCompact)},""" +
      s""""after_compact":{"sec":${fmt(dedupAfter._1)},"files":${dedupAfter._2}}},""" +
      s""""bm25":{"after_each_append":${curveJson(bmCurve)},""" +
      s""""compact_sec":${fmt(tBmCompact)},""" +
      s""""after_compact":{"sec":${fmt(bmAfter._1)},"files":${bmAfter._2}}},""" +
      s""""substr_backfill":{"no_broadcast_sec":${fmt(tNoBc)},"broadcast_sec":${fmt(tBc)}}}""")
    spark.stop()
  }
}
