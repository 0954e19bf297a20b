package graft.maintain

import java.nio.file.{Files, Paths}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{ClusterStat, IndexBuilder, IndexSchemas, InputLineage,
  JsonFiles, ManifestIO, SegmentMeta}
import graft.sources.Corpus

/** Incremental index maintenance — the graft of the reference's point
  * mutations (SURVEY.md §2.3, /root/reference/src/utils.jl):
  *
  *  - [[append]]  = `push!` (M1): new docs become a NEW mini-segment —
  *    docIDs continue from num_docs (insertion order, exactly
  *    `id = nvectors` at /root/reference/src/utils.jl:140-143), blocks
  *    are appended under the existing cluster partitioning, the
  *    dictionary/idf refresh from block metadata, and the manifest
  *    gains the doc counts and block stats the append observed. The
  *    scoring avgdl is intentionally HELD at its last full-build value
  *    until compaction (stored g-maxes stay valid upper bounds; Lucene
  *    holds norms the same way).
  *  - [[delete]]  = `delete_from_index!` (M5): a tombstone set — O(1)
  *    visibility-only delete; queries filter tombstoned docs before
  *    top-k selection.
  *  - [[compact]] = the deferred id-shift (M8,
  *    /root/reference/src/utils.jl:16-20): rewrites the index into a
  *    new snapshot directory with survivors re-ranked DENSE IN OLD-ID
  *    ORDER — identical semantics to the reference's "shift all higher
  *    ids down", executed as one batch rewrite instead of per-delete. A
  *    docstore shift-rewrite plus the postings rewrite merge shares; the
  *    centroids and coarse graph carry over, nothing is retrained.
  *  - [[fetchDocs]] = `_decode_point` (M7): the docstore is lossless, so
  *    reconstruction is exact (the reference's PQ reconstruction is
  *    lossy).
  */
object Maintenance {

  private def tombstonePath(indexDir: String) =
    Paths.get(indexDir, "tombstones.json")

  def loadTombstones(indexDir: String): Set[Long] = {
    val p = tombstonePath(indexDir)
    if (!Files.exists(p)) Set.empty
    else JsonFiles.read(p, classOf[Array[Long]]).toSet
  }

  // one lock per index directory, keyed by its normalized absolute path
  private val deleteLocks =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, AnyRef]()

  /** M5: tombstone docIDs (idempotent, merges with existing). The
    * read-modify-write of tombstones.json is serialized per index
    * directory, so concurrent deletes in one JVM all land.
    */
  def delete(indexDir: String, docIds: Seq[Long]): Unit =
    deleteLocks.computeIfAbsent(Paths.get(indexDir).toAbsolutePath.normalize,
      _ => new Object).synchronized {
      JsonFiles.write(tombstonePath(indexDir),
        (loadTombstones(indexDir) ++ docIds).toArray.sorted)
    }

  /** M1: append an F1-shaped batch of new source files as a mini-segment.
    * New docIDs = num_docs + rank within the batch by (repo,path,commit).
    * Like the reference's `push!`, which encodes new points with the
    * build's quantizer and encoder (`utils.jl:140-143`), an append is
    * the build's docstore write under the index's fixed centroids
    * (round-robin granule slots, append mode), then the build's block
    * encode over the docstore rows it just wrote.
    */
  def append(spark: SparkSession, indexDir: String, newSource: DataFrame): Unit = {
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    // appended segments REUSE the base build's granule window so every
    // block — old or new — stays inside one (cluster, window) granule
    // and query-side granule splits remain safe
    val window = manifest.granule_window
    val dense = Corpus.docsFromCounted(newSource,
      idOffset = manifest.num_docs)
    val added = IndexBuilder.writeDocstore(spark, dense.df, indexDir,
      manifest.centroids, graft.cluster.Distance.byName(manifest.distance),
      window, Map.empty, "append")
    dense.unpersist()

    val segOffset = (manifest.segments.map(_.segment_id) :+ 0).max + 1
    // avgdl is held until compaction
    val (blocks, acc, cacc) = IndexBuilder.encodeBlocks(spark,
      IndexSchemas.readDocstore(spark, indexDir)
        .filter(col("doc_id") >= manifest.num_docs),
      manifest.avgdl, segOffset, window)
    blocks.write.mode("append")
      .partitionBy("cluster_id")
      .parquet(s"$indexDir/postings")

    // the manifest gains what the two writes observed: doc counts from
    // the docstore write, block stats and the mini-segments' lineage
    // from the encode accumulators [ADVICE r1: a discarded accumulator
    // left manifest.segments stale and later appends reusing the same
    // segOffset]. Centroids and the coarse graph carry over unchanged.
    val nNew = manifest.num_docs + added.num_docs
    ManifestIO.write(s"$indexDir/manifest.json", manifest.copy(
      num_docs = nNew,
      vocab_size = IndexBuilder.writeDictionary(spark, indexDir, nNew),
      partitions = IndexBuilder.partitionMetas(
        manifest.partitions.map(p => p.cluster_id -> p.num_docs) ++
          added.perCluster,
        manifest.partitions.map(p => ClusterStat(p.cluster_id,
          p.num_postings, p.num_blocks, p.bytes, p.build_millis)) ++
          IndexBuilder.collected(cacc)),
      segments = (manifest.segments ++ IndexBuilder.collected(acc))
        .sortBy(_.segment_id)))
  }

  /** Segment merge (north_star: "merge partition-local segments into a
    * global index") — the Lucene forceMerge analog: consolidates the
    * fragmented blocks left by appends into minimal full blocks per
    * (cluster, granule, term), WITHOUT touching the docstore or docIDs.
    * Also refreshes avgdl/idf exactly over the current corpus (append
    * holds them stale by design). It is compaction's block transform
    * ([[rewritePostings]]) with no tombstones over the postings
    * hash-exchanged on their granule key: no tokenize pass.
    * The manifest gets the transform's segments and per-cluster block
    * stats; doc counts, centroids and the graph carry over.
    */
  def mergeSegments(spark: SparkSession, indexDir: String): Unit = {
    val manifest0 = ManifestIO.read(s"$indexDir/manifest.json")
    val window = manifest0.granule_window

    // exact refreshed stats (Long sums → deterministic)
    val statsRow = IndexSchemas.readDocstore(spark, indexDir)
      .agg(count(lit(1)), sum(col("doc_len"))).head()
    val n = statsRow.getLong(0)
    val sumDl = statsRow.getLong(1)
    val avgdl = sumDl.toDouble / n

    // the exchange puts every block of a (cluster, doc_id div window)
    // granule in one task, so each (cluster, granule, term) run is
    // re-encoded whole; merged blocks stay granule-contained (the
    // query-side split key relies on it). Tombstoned docs stay in the
    // postings: queries filter them until compaction.
    val (segments, clusterStats) = rewritePostings(spark,
      IndexSchemas.readPostings(spark, indexDir)
        .repartition(col("cluster_id"), expr(s"first_doc div $window")),
      spark.sparkContext.broadcast(Array.empty[Long]), avgdl, window, indexDir)

    ManifestIO.write(s"$indexDir/manifest.json", manifest0.copy(
      num_docs = n,
      avgdl = avgdl,
      vocab_size = IndexBuilder.writeDictionary(spark, indexDir, n),
      partitions = IndexBuilder.partitionMetas(
        manifest0.partitions.map(p => p.cluster_id -> p.num_docs),
        clusterStats),
      segments = segments))
  }

  /** M5/M8 compaction: survivors re-ranked dense in OLD-id order into a
    * fresh snapshot directory `outDir`. Like the reference's
    * `delete_from_index!` (/root/reference/src/utils.jl:90-105) it only
    * shifts ids and retrains nothing: a rewrite, not a build. Steps:
    *  - `docstore`: ids through the broadcast tombstone shift (dead rows
    *    dropped), local sort, write — no exchange: the source files are
    *    (cluster, doc)-sorted runs and the shift is monotone;
    *  - `postings`: the source blocks decoded, shifted and re-encoded
    *    ([[rewritePostings]], shared with [[mergeSegments]]);
    *  - `dictionary`, then `manifest`: the source manifest with what the
    *    steps observed; centroids and the coarse graph carry over.
    * An all-tombstoned index compacts to a valid empty index.
    * `deadOverride` compacts against an explicit set (default: the
    * index's tombstones.json) WITHOUT mutating the source index.
    */
  def compact(spark: SparkSession, indexDir: String, outDir: String,
      deadOverride: Option[Set[Long]] = None): IndexBuilder.BuildResult = {
    val clock = new IndexBuilder.StepClock("compact")
    val dead = deadOverride.getOrElse(loadTombstones(indexDir))
    // survivor count from the manifest, EXACT for any dead set: docstore
    // ids are dense 0..n-1, so only dead ids inside that range remove
    // rows — a deadOverride carrying absent ids (which bypasses
    // delete()'s validation) must not shrink it [ADVICE r4]
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    val deadArr = dead.filter(id => id >= 0 && id < manifest.num_docs)
      .toArray.sorted
    val kept = manifest.num_docs - deadArr.length
    val deadBc = spark.sparkContext.broadcast(deadArr)
    val window = IndexBuilder.granuleWindow(kept,
      spark.sessionState.conf.numShufflePartitions)

    val written = clock("docstore") {
      // stored cluster_id, doc_len and content_sha ride through unchanged
      val (survivors, written) = IndexBuilder.observeDocstore(
        IndexSchemas.readDocstore(spark, indexDir)
          .withColumn("doc_id",
            graft.functions.TombstoneShiftExpr.col(col("doc_id"), deadBc))
          .filter(col("doc_id") >= 0), manifest.kc)
      survivors
        .sortWithinPartitions(col("cluster_id"), col("doc_id"))
        .select(IndexBuilder.DocstoreColumns.map(col): _*)
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(s"$outDir/docstore")
      val w = written()
      // a wrong id shift must not silently produce a plausible index
      require(w.num_docs == kept, s"compacted row count ${w.num_docs} != " +
        s"expected $kept: the tombstone shift and the docstore disagree")
      require(w.min_id >= 0, "compacted ids must be dense non-negative")
      w
    }
    // an empty index stores 0.0: NaN would not round-trip through JSON
    val avgdl = if (kept > 0) written.sum_dl.toDouble / kept else 0.0
    val (segments, clusterStats) = clock("postings") {
      IndexBuilder.withReadSplit(spark, s"$indexDir/postings", 1L << 20)(
        rewritePostings(spark, IndexSchemas.readPostings(spark, indexDir),
          deadBc, avgdl, window, outDir))
    }
    val vocab = clock("dictionary") {
      IndexBuilder.writeDictionary(spark, outDir, kept)
    }
    val compacted = clock("manifest") {
      val m = manifest.copy(
        num_docs = kept,
        avgdl = avgdl,
        granule_window = window,
        vocab_size = vocab,
        partitions = IndexBuilder.partitionMetas(written.perCluster,
          clusterStats),
        segments = segments,
        lineage = InputLineage(s"compact($indexDir)", kept))
      ManifestIO.write(s"$outDir/manifest.json", m)
      m
    }
    clock.result(compacted)
  }

  /** The postings rewrite of [[mergeSegments]] and [[compact]]:
    * [[IndexBuilder.transformBlocks]] over `blocks` (ids in `dead`
    * dropped, the rest shifted down), written to a sibling dir and
    * swapped into `outDir/postings`. Returns the segments and the
    * per-cluster block stats the transform reported.
    */
  private def rewritePostings(spark: SparkSession, blocks: DataFrame,
      dead: Broadcast[Array[Long]], avgdl: Double, window: Long,
      outDir: String): (Seq[SegmentMeta], Seq[ClusterStat]) = {
    val (rewritten, acc, cacc) = IndexBuilder.transformBlocks(spark, blocks,
      dead, avgdl, segmentOffset = 0, window)
    val staged = s"$outDir/postings_rewrite"
    rewritten.write.mode("overwrite").partitionBy("cluster_id").parquet(staged)
    IndexBuilder.swapIn(staged, s"$outDir/postings")
    (IndexBuilder.collected(acc).sortBy(_.segment_id),
      IndexBuilder.collected(cacc))
  }

  /** M7: exact reconstruction from the lossless docstore. */
  def fetchDocs(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Array[Row] =
    IndexSchemas.readDocstore(spark, indexDir)
      .filter(col("doc_id").isin(docIds: _*))
      .orderBy("doc_id")
      .collect()

  private def liveIds(spark: SparkSession, indexDir: String) = {
    val dead = loadTombstones(indexDir)
    import spark.implicits._
    IndexSchemas.readDocstore(spark, indexDir)
      .join(broadcast(dead.toSeq.toDF("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** M3 `pop!`: reconstruct + tombstone the highest live id. Dense-id
    * restoration happens at the next [[compact]], like the reference's
    * deferred shift.
    */
  def popLast(spark: SparkSession, indexDir: String): Option[Row] = {
    val last = liveIds(spark, indexDir).orderBy(col("doc_id").desc).limit(1)
      .collect().headOption
    last.foreach(r => delete(indexDir, Seq(r.getAs[Long]("doc_id"))))
    last
  }

  /** M4 `popfirst!`: reconstruct + tombstone the lowest live id. */
  def popFirst(spark: SparkSession, indexDir: String): Option[Row] = {
    val first = liveIds(spark, indexDir).orderBy(col("doc_id").asc).limit(1)
      .collect().headOption
    first.foreach(r => delete(indexDir, Seq(r.getAs[Long]("doc_id"))))
    first
  }

  /** M2 `pushfirst!`: prepend — new docs get ids 0..k-1, ALL existing
    * ids shift up by k (/root/reference/src/utils.jl:2-6). Inherently a
    * full rewrite (the reference warns the same); expressed as one
    * rebuild into `outDir` ordered (new-first, then old ids).
    */
  def prepend(spark: SparkSession, indexDir: String,
      newSource: DataFrame, outDir: String): IndexBuilder.BuildResult = {
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    val existing = liveIds(spark, indexDir)
      .select(lit(1).as("prio"), col("doc_id").as("old_doc_id"),
        col("repo"), col("path"), col("commit"), col("lang"), col("content"))
    val fresh = newSource
      .select(lit(0).as("prio"), lit(-1L).as("old_doc_id"),
        col("repo"), col("path"), col("commit"), col("lang"), col("content"))
    // like push!, pushfirst! encodes under the EXISTING quantizer
    // (/root/reference/src/utils.jl:2-6 never retrains): centroids ride
    // through as fixed
    IndexBuilder.buildFromSource(spark, fresh.unionAll(existing), outDir,
      IndexBuilder.BuildConfig(resume = false,
        distance = graft.cluster.Distance.byName(manifest.distance)),
      idOrder = Seq("prio", "old_doc_id", "repo", "path", "commit"),
      lineageName = s"prepend($indexDir)",
      fixedCentroids = Some(manifest.centroids))
  }
}
