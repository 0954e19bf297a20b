package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.build.{IndexBuilder, IndexManifest, JsonFiles, ManifestIO}
import graft.maintain.Maintenance

/** Structured Streaming ingestion: F1-shaped files landing in a
  * directory become index mini-segments, one per micro-batch, via
  * foreachBatch → Maintenance.append.
  *
  * The reference has no streaming at all; its `push!`-as-FIFO usage
  * (/root/reference/docs/src/examples.md:85-92) is the closest analog —
  * the graft expresses it as micro-batch segment appends (SURVEY.md
  * §2.5): each batch gets insertion-order docIDs continuing from the
  * current num_docs, exactly `push!`'s id semantics.
  *
  * Delivery semantics: foreachBatch is AT-LEAST-once, and
  * Maintenance.append is a non-atomic multi-step sequence (docstore,
  * postings, dictionary, manifest) — so the sink records an INTENT
  * sidecar (batchId + the pre-append manifest) before appending and the
  * applied batchId after. On replay:
  *  - batchId <= lastApplied → skip (the common duplicate-delivery case);
  *  - a dangling intent (crash mid-append or between append and the
  *    applied record) → [[rollbackPartial]] cuts the docstore and the
  *    postings back to the pre-append manifest's doc/segment watermarks
  *    (range filters — both are monotone counters), restores that
  *    manifest and rewrites the dictionary; then the batch re-applies
  *    cleanly.
  * Net effect: effectively-once INDEXED STATE, achieved by
  * at-least-once delivery + deterministic rollback-and-reapply — not by
  * any atomicity claim about append itself [ADVICE r2].
  */
object StreamingAppend {

  private def appliedPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "stream_last_batch.json")

  private def intentPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "stream_intent.json")

  /** The batch about to be appended and the manifest before it.
    * Everything the batch adds lies strictly above the manifest's
    * watermarks (doc ids and segment ids are monotone counters).
    */
  final case class Intent(batchId: Long, before: IndexManifest) {
    def numDocsBefore: Long = before.num_docs
    def maxSegBefore: Int = (before.segments.map(_.segment_id) :+ 0).max
  }

  /** Last batchId applied to this index (−1 if none). */
  def lastAppliedBatch(indexDir: String): Long = {
    val p = appliedPath(indexDir)
    if (!java.nio.file.Files.exists(p)) -1L
    else new String(java.nio.file.Files.readAllBytes(p)).trim.toLong
  }

  private def recordApplied(indexDir: String, batchId: Long): Unit =
    JsonFiles.write(appliedPath(indexDir), batchId)

  def pendingIntent(indexDir: String): Option[Intent] = {
    val p = intentPath(indexDir)
    if (!java.nio.file.Files.exists(p)) None
    else Some(JsonFiles.read(p, classOf[Intent]))
  }

  private def recordIntent(indexDir: String, i: Intent): Unit =
    JsonFiles.write(intentPath(indexDir), i)

  private def clearIntent(indexDir: String): Unit =
    java.nio.file.Files.deleteIfExists(intentPath(indexDir))

  /** Removes every trace of a partially-applied append: docstore rows
    * above the doc watermark and posting blocks above the segment
    * watermark go, the pre-append manifest is restored and the
    * dictionary rewritten for the restored postings. Idempotent (pure
    * range filters, a fixed manifest), so a crash mid-rollback just
    * rolls back again.
    */
  def rollbackPartial(spark: SparkSession, indexDir: String, intent: Intent): Unit = {
    System.err.println(s"[stream] rolling back partial batch " +
      s"${intent.batchId}: docs>=${intent.numDocsBefore}, " +
      s"segments>${intent.maxSegBefore}")
    def rewrite(sub: String, keep: DataFrame => DataFrame): Unit = {
      val live = java.nio.file.Paths.get(s"$indexDir/$sub")
      val aside = java.nio.file.Paths.get(s"$indexDir/${sub}_old")
      // A previous rollback may have died between moving the live dir
      // aside and installing the rewrite; the live dir is then absent
      // but the aside copy holds the full pre-rollback state. Restore
      // it so the (idempotent range-filter) rewrite runs again.
      if (!java.nio.file.Files.isDirectory(live) &&
          java.nio.file.Files.isDirectory(aside))
        java.nio.file.Files.move(aside, live)
      if (java.nio.file.Files.isDirectory(live)) {
        val tmp = s"$indexDir/${sub}_rollback"
        keep(spark.read.parquet(live.toString))
          .write.mode("overwrite").partitionBy("cluster_id").parquet(tmp)
        org.apache.commons.io.FileUtils.deleteQuietly(aside.toFile)
        java.nio.file.Files.move(live, aside)
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp), live)
        org.apache.commons.io.FileUtils.deleteQuietly(aside.toFile)
      }
    }
    rewrite("docstore", _.filter(col("doc_id") < intent.numDocsBefore))
    rewrite("postings", _.filter(col("segment_id") <= intent.maxSegBefore))
    IndexBuilder.writeDictionary(spark, indexDir, intent.numDocsBefore)
    ManifestIO.write(s"$indexDir/manifest.json", intent.before)
  }

  /** Idempotent micro-batch application; returns true iff the batch was
    * newly indexed (false = replay skipped).
    */
  def applyBatch(indexDir: String, batch: DataFrame, batchId: Long): Boolean = {
    val last = lastAppliedBatch(indexDir)
    // An intent whose batch is already recorded as applied is a
    // leftover from a crash between recordApplied and clearIntent —
    // that batch COMMITTED; rolling it back would lose acknowledged
    // data (and the skipped replay would never re-apply it).
    pendingIntent(indexDir).filter(_.batchId <= last)
      .foreach { i =>
        System.err.println(s"[stream] clearing stale intent for " +
          s"committed batch ${i.batchId}")
        clearIntent(indexDir)
      }
    if (batchId <= last) {
      System.err.println(
        s"[stream] batch $batchId already applied - skipping replay")
      false
    } else {
      val spark = batch.sparkSession
      // a dangling intent = the previous attempt crashed mid-append;
      // restore the pre-append state before re-applying
      pendingIntent(indexDir).foreach(rollbackPartial(spark, indexDir, _))
      if (!batch.isEmpty) {
        recordIntent(indexDir,
          Intent(batchId, ManifestIO.read(s"$indexDir/manifest.json")))
        Maintenance.append(spark, indexDir, batch)
      }
      recordApplied(indexDir, batchId)
      clearIntent(indexDir)
      System.err.println(s"[stream] batch $batchId applied")
      !batch.isEmpty
    }
  }

  /** The input_hint table shape. */
  val sourceSchema: StructType = StructType(Seq(
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lang", StringType),
    StructField("content", StringType)))

  /** Starts the ingestion stream; caller stops it (or uses
    * processAllAvailable in tests). Batches are appended sequentially —
    * foreachBatch runs on the driver, and append itself launches the
    * distributed jobs.
    */
  def start(
      spark: SparkSession,
      watchDir: String,
      indexDir: String,
      checkpointDir: String): StreamingQuery =
    spark.readStream
      .schema(sourceSchema)
      .parquet(watchDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(indexDir, batch, batchId); ()
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
}
