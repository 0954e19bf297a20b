package graft.build

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.model.PartitionMeta

/** Per-segment build lineage + metrics (a "segment" = one range-partition
  * build task; it may span cluster boundaries).
  */
case class SegmentMeta(
    segment_id: Int,
    num_postings: Long,
    num_blocks: Long,
    bytes: Long,
    build_millis: Long,
    postings_per_sec: Double,
    bytes_per_posting: Double)

/** Per-cluster encode stats, accumulated inside the posting-encode tasks
  * so the manifest step needs no postings scan. `build_millis` is the
  * encode (codec) time attributed to the cluster's blocks.
  */
case class ClusterStat(
    cluster_id: Int,
    num_postings: Long,
    num_blocks: Long,
    bytes: Long,
    build_millis: Long)

/** Input lineage recorded in the manifest (north_rule: per-partition
  * lineage; resume checks input identity before skipping steps).
  */
case class InputLineage(
    source_dir: String,
    num_source_rows: Long)

/** The index manifest — the graft analog of the reference's persisted
  * header + centroids (/root/reference/src/persistency.jl:22-41): all
  * global stats, BM25 params, the coarse-quantizer centroids, and
  * per-partition/per-segment lineage + metrics. Parquet segments +
  * this JSON manifest emulate an Iceberg snapshot (no Iceberg jar in
  * /opt/spark/jars — documented in SURVEY.md §7.0).
  * It is the built index's whole state: every maintenance operation
  * reads it, applies the deltas it observed and writes it back.
  */
case class IndexManifest(
    version: Int,
    num_docs: Long,
    avgdl: Double,
    vocab_size: Long,
    kc: Int,
    feature_dim: Int,
    k1: Double,
    b: Double,
    round_scale: Int,
    // coarse-assignment metric name (the reference's Dc parameter);
    // query-side probe ordering must use the same metric
    distance: String,
    // (cluster_id, doc_id div granule_window) is the build's granule
    // key: every posting block lies inside one granule, so the window is
    // also a SAFE query-side secondary split key (all of a doc's blocks
    // across terms share its granule)
    granule_window: Long,
    centroids: Array[Array[Double]],
    // P2 graft (/root/reference/src/persistency.jl:163-241): the coarse
    // quantizer's kNN graph adjacency, serialized with the index and
    // reloaded at open instead of rebuilt; built under `distance`
    coarse_graph: Array[Array[Int]],
    // upper HNSW layers (index 0 = level 1) — nonempty only beyond
    // GraphCoarseSearch.ExactKnnMax, where the layered incremental
    // build replaces the exact kNN edges (r3; the reference's
    // HierarchicalNSW layers, /root/reference/src/coarsequantizers.jl:58)
    coarse_graph_upper: Array[Array[Array[Int]]],
    lineage: InputLineage,
    partitions: Seq[PartitionMeta],
    segments: Seq[SegmentMeta])

/** The one JSON mapper for graft's metadata files (manifest, build
  * state, tombstones, stream sidecars) and the one atomic write: a
  * reader sees the old file or the new one, never a torn one.
  */
object JsonFiles {
  val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  /** Writes `bytes` to a sibling `.tmp` file, then renames it over `path`. */
  def writeAtomic(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    Files.createDirectories(tmp.toAbsolutePath.getParent)
    Files.write(tmp, bytes)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def write(path: Path, value: Any): Unit =
    writeAtomic(path, mapper.writeValueAsBytes(value))

  def read[T](path: Path, cls: Class[T]): T =
    mapper.readValue(Files.readAllBytes(path), cls)
}

object ManifestIO {
  import JsonFiles.mapper

  def write(path: String, m: IndexManifest): Unit =
    JsonFiles.writeAtomic(Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))

  /** Reads a manifest written by this code's format version; any other
    * version fails with a "rebuild the index" error instead of being
    * read through compatibility defaults.
    */
  def read(path: String): IndexManifest = {
    val tree = mapper.readTree(
      new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
    val version = tree.path("version").asInt(-1)
    if (version != IndexBuilder.FormatVersion)
      throw new IllegalStateException(
        s"index manifest $path has format version $version, but this " +
          s"code reads only version ${IndexBuilder.FormatVersion}: " +
          "rebuild the index")
    mapper.treeToValue(tree, classOf[IndexManifest])
  }

  def exists(path: String): Boolean = Files.exists(Paths.get(path))
}
