package graft.streaming

import graft.config.Destination
import graft.engine.{NoopProgress, ProgressListener}
import graft.graph.GraphNormalizer
import graft.model.KindModel
import graft.sink.SnapshotSink
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ETL: the reference's run-per-snapshot model made streaming.
  * A directory is watched for JSON-lines graph exports; each arriving file
  * is ONE complete inventory snapshot (how periodic collectors publish) and
  * flows through the exact batch pipeline — normalize to kind/link tables,
  * stage, atomic swap — so readers of the destination always see the latest
  * complete snapshot and never a partial one.
  *
  * `maxFilesPerTrigger=1` pins the snapshot boundary to the file boundary:
  * two exports arriving together still commit as two ordered snapshots.
  *
  * Recovery semantics: with a DURABLE `checkpointDir`, a restart resumes
  * after the last committed batch; a replayed in-flight batch is idempotent
  * (staging overwrites `_staging/s<batchId>`, the swap promotes the same
  * content). Without a checkpoint dir the source starts from scratch on
  * restart and re-plays every file still in the watch directory — fine for
  * tests, wrong for production; pass a real path there.
  *
  * Poison-file isolation: a malformed export fails ITS batch only — the
  * error is reported through `progress` and ingestion continues with the
  * next file (set `failOnError=true` to fail the whole query instead).
  * The skip is scoped to the PARSE window plus a graph that cannot be
  * staged at all (`GraphNormalizer.InvalidGraphException`: duplicate node
  * ids, colliding table names); other stage/commit failures are
  * environmental and always fail the batch before its checkpoint
  * commits, so a well-formed snapshot is retried, never silently lost.
  */
object StreamingGraphIngest {

  /** Does this failure mark the FILE as permanently bad (truncated gzip,
    * malformed compressed stream, undecodable bytes) rather than the
    * ENVIRONMENT as transiently failing (S3 503, socket timeout, disk
    * pressure)? Spark wraps task failures in layers of SparkException, so
    * the cause chain is walked (bounded — exotic exceptions can
    * self-cycle). Retrying a corrupt file wedges the stream forever;
    * skipping a transient failure silently drops a good snapshot — this
    * split is what keeps both promises in the scaladoc above.
    */
  private[graft] def isCorruptionCause(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).exists {
      case _: java.io.EOFException                     => true // truncated gzip/stream
      case _: java.util.zip.ZipException               => true // corrupt deflate data
      case _: java.nio.charset.CharacterCodingException => true // undecodable bytes
      case _: com.fasterxml.jackson.core.JacksonException => true // died mid-token
      case _                                           => false
    }

  def run(
      spark: SparkSession,
      watchDir: String,
      dest: Destination,
      fallback: Option[KindModel] = None,
      progress: ProgressListener = NoopProgress,
      checkpointDir: Option[String] = None,
      failOnError: Boolean = false,
      queryName: String = "graft-graph-ingest"): StreamingQuery = {
    val reader = spark.readStream
      // the corrupt-record column makes a malformed/truncated line fail
      // ITS batch (fromExportRecords probes it loudly) instead of
      // null-filling into a silently-dropped row and committing a PARTIAL
      // snapshot — FAILFAST can't serve here because the format embeds
      // `reported` objects into a StringType capture (legal only in
      // PERMISSIVE); see GraphNormalizer.CorruptCol
      .schema(GraphNormalizer.exportReadSchema)
      .option("columnNameOfCorruptRecord", GraphNormalizer.CorruptCol)
      .option("maxFilesPerTrigger", 1)
      .json(watchDir)
    val writer = reader.writeStream.queryName(queryName)
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // one JSON parse per snapshot: the batch plan is otherwise
        // re-executed by the kind-record collect and every staging write
        batch.persist()
        try {
          // FULL materialization BEFORE the poison-file window below:
          // isEmpty touches only the first partition, so the source file
          // would otherwise still be read inside the skip window — and a
          // transient read error (S3 503, timeout) there would be
          // classified as a permanently-bad export and the well-formed
          // snapshot silently skipped. count() pulls every partition into
          // the cache here, where failures split by CAUSE: a corruption
          // class (truncated gzip, undecodable bytes — the file itself is
          // permanently bad, PERMISSIVE can't surface it as a corrupt-
          // record row because the scan dies before producing rows) skips
          // the batch like a parse error, while an environmental failure
          // rethrows so the checkpoint retries the well-formed snapshot.
          // Without the split, either kind of error wedges the stream on
          // the same file forever or silently drops a good snapshot.
          val nRows =
            try batch.count()
            catch {
              case scala.util.control.NonFatal(e)
                  if !failOnError && isCorruptionCause(e) =>
                progress.progress("graph_export",
                  s"batch $batchId UNREADABLE (skipped, previous snapshot intact): ${e.getMessage}")
                -1L
            }
          if (nRows > 0) {
            // skip-on-error covers ONLY the poison-file window: parsing
            // (strict: THIS path promises "a malformed export fails ITS
            // batch" — a truncated file must not commit a partial snapshot
            // over the previous good one) and a graph that cannot be
            // staged at all (duplicate ids, colliding names — both checked
            // before anything lands in the run's staging). A malformed
            // export is permanently bad and retrying it forever would
            // wedge the stream. Stage/commit failures are environmental
            // (S3 timeout, disk-full, JDBC blip) — rethrowing them fails
            // the batch BEFORE the checkpoint commits, so the well-formed
            // snapshot is retried instead of silently lost.
            // NonFatal only: an OOM/StackOverflow/interrupt must fail the
            // query, not be reported as a skipped batch over a possibly
            // corrupted JVM
            def skipped(e: Throwable): Null = {
              progress.progress("graph_export",
                s"batch $batchId FAILED (skipped, previous snapshot intact): ${e.getMessage}")
              null
            }
            val runId = s"s$batchId"
            val g =
              try GraphNormalizer.fromExportRecords(batch, fallback, strict = true)
              catch { case scala.util.control.NonFatal(e) if !failOnError => skipped(e) }
            val staged =
              if (g == null) null
              else try SnapshotSink.stage(g, dest, runId)
              catch { case e: GraphNormalizer.InvalidGraphException if !failOnError => skipped(e) }
            if (staged != null) {
              SnapshotSink.committer(dest, runId, staged.tables).commit(batch.sparkSession)
              progress.progress("graph_export", s"snapshot $runId committed: ${staged.tables.size} tables")
            }
          }
        } finally batch.unpersist()
      }
      .start()
  }
}
