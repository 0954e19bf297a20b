package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tokenize.Tokenizer

/** IVFADC-style coarse quantizer reused as the physical partitioning
  * scheme (SURVEY.md §1.2): kmeans over hashed term-count vectors of
  * documents; the assigned cluster id becomes the partition key, each
  * cluster playing the role of one of the reference's inverted lists
  * (/root/reference/src/index.jl:23, kmeans call :129-134).
  *
  * DETERMINISM (SURVEY.md §7.4): MLlib kmeans is seeded but its float
  * reductions are parallelism-order-sensitive; cluster assignments must
  * be identical across local[N]/local[4N] for the scaling run to be
  * rank-identical. This implementation is order-independent by
  * construction:
  *   - features are INTEGER term counts (Array[Long]) — summation over
  *     Longs is commutative/associative exactly;
  *   - centroid update = (exact Long sums) / count, computed once per
  *     cluster per iteration;
  *   - argmin ties break toward the lower cluster id;
  *   - init picks the kc docs with the smallest (murmur3(doc_id), doc_id)
  *     — a seeded pseudo-random, order-independent choice.
  *
  * Scale notes: each iteration is one shuffle of (cluster, 64 longs)
  * partial sums — map-side combine reduces traffic to kc×dim×tasks.
  * Centroids (kc×dim doubles) are driver-held and broadcast, exactly the
  * reference's design (centroids broadcast-scanned per point,
  * /root/reference/src/coarsequantizers.jl:33-37).
  */
object CoarseClusterer {

  /** Hashed term-vector dimensionality. Small on purpose: the vector is
    * only a partitioning signal, not a retrieval feature.
    */
  val Dim = 64

  val HashSeed = 42

  /** Default Lloyd iterations — matches the reference's capped
    * `maxiter=25` spirit (/root/reference/src/defaults.jl:9); 5
    * suffices for a partitioning signal and keeps the serial
    * iteration chain short.
    */
  val MaxIter = 5

  /** kc heuristic: ~250 docs per cluster, clamped to 32 — the fit is a
    * serial driver cost linear in kc, and 32 partitions already give the
    * probe knob plenty of pruning at sandbox scale. At production scale
    * this is a config (target docs-per-partition ≈ one Iceberg
    * partition), not a heuristic.
    */
  def pickKc(numDocs: Long): Int =
    math.max(2, math.min(32, (numDocs / 250).toInt))

  /** Pure: hashed term-count feature of a token array. */
  def features(tokens: Iterable[String]): Array[Long] = {
    val v = new Array[Long](Dim)
    tokens.foreach { t =>
      val h = scala.util.hashing.MurmurHash3.stringHash(t, HashSeed)
      v(java.lang.Math.floorMod(h, Dim)) += 1L
    }
    v
  }

  /** MurmurHash3.stringHash of the LOWERCASED span [start,end) of `s`,
    * computed in place — bit-identical to
    * `stringHash(s.substring(start,end).toLowerCase, seed)` for ASCII
    * token chars, with zero allocation. Keeping it identical matters:
    * centroids (and thus golden w<kc results) must not move.
    */
  private def spanHash(s: String, start: Int, end: Int, seed: Int): Int = {
    import scala.util.hashing.MurmurHash3.{finalizeHash, mix, mixLast}
    @inline def lc(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
    var h = seed
    var i = start
    while (i + 1 < end) {
      val data = (lc(s.charAt(i)) << 16) + lc(s.charAt(i + 1))
      h = mix(h, data)
      i += 2
    }
    if (i < end) h = mixLast(h, lc(s.charAt(i)).toInt)
    finalizeHash(h, end - start)
  }

  /** Fused tokenize+hash feature extraction: ONE char scan, no token
    * String allocation — the hottest per-doc path of the build (the
    * docstore write job runs it over every doc). Identical output to
    * `features(Tokenizer.tokenize(content))` (property-tested); any
    * non-ASCII doc falls back to exactly that.
    */
  def featuresOf(content: String): Array[Long] = {
    val n = content.length
    var i = 0
    while (i < n) {
      if (content.charAt(i) >= 0x80)
        return features(Tokenizer.tokenize(content))
      i += 1
    }
    val v = new Array[Long](Dim)
    i = 0
    var start = -1
    while (i <= n) {
      val ch = if (i < n) content.charAt(i) else ' '
      val isTok = (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
        (ch >= '0' && ch <= '9') || ch == '_'
      if (isTok) { if (start < 0) start = i }
      else if (start >= 0) {
        val h = spanHash(content, start, i, HashSeed)
        v(java.lang.Math.floorMod(h, Dim)) += 1L
        start = -1
      }
      i += 1
    }
    v
  }

  /** Pure: argmin over centroids of `dist`, ties to the lower cluster id
    * (matches sortperm stability of the reference's coarse search,
    * /root/reference/src/coarsequantizers.jl:35). The SqEuclidean
    * default keeps the tight no-conversion Long loop (the hot per-doc
    * path); other metrics (the reference's Dc parameter) go through the
    * generic [[Distance]].
    */
  def assign(feat: Array[Long], centroids: Array[Array[Double]],
      dist: Distance = Distance.SqEuclidean): Int = {
    if (dist eq Distance.SqEuclidean) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val ctr = centroids(c)
        var d = 0.0
        var i = 0
        while (i < Dim) {
          val diff = feat(i) - ctr(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    } else {
      val fd = feat.map(_.toDouble)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val d = dist(fd, centroids(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Distance of a double-vector to each centroid — used for query-side
    * probed-cluster selection (Q2 graft). Metric-pluggable (Dc).
    */
  def distances(feat: Array[Double], centroids: Array[Array[Double]],
      dist: Distance = Distance.SqEuclidean): Array[Double] =
    centroids.map(ctr => dist(feat, ctr))

  private def featCol = udf((content: String) => featuresOf(content))

  /** Adds a `feat` column (Array[Long] hashed term counts) to docs —
    * one char-scan pass per doc, no regex/explode.
    */
  def withFeatures(docs: DataFrame): DataFrame =
    docs.withColumn("feat", featCol(col("content")))

  /** Deterministic driver-local Lloyd's kmeans over a collected sample
    * of (doc_id, feat). At any scale the fit runs on a bounded sample
    * (the reference fits on everything only because everything fits in
    * one process); the full corpus is ASSIGNED distributively, never
    * fitted. Sequential = trivially order-independent; seeds are the kc
    * sample docs with the smallest (murmur3(doc_id), doc_id).
    */
  def fitLocal(sample: Array[(Long, Array[Long])], kc: Int,
      maxIter: Int = MaxIter,
      dist: Distance = Distance.SqEuclidean): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty kmeans sample")
    val k = math.min(kc, sample.length)
    def idHash(id: Long): Int =
      scala.util.hashing.MurmurHash3.productHash(Tuple1(id), HashSeed)
    var centroids = sample
      .sortBy { case (id, _) => (idHash(id), id) }
      .take(k)
      .map(_._2.map(_.toDouble))
    // the assign+accumulate pass is parallelized over sample chunks on
    // driver threads: per-chunk Long sums merge exactly (commutative/
    // associative), so centroids are BIT-IDENTICAL for any chunk count
    // or thread schedule — determinism holds while the fit leaves the
    // build's serial critical path (~0.5 s/level at bench scale)
    val nThreads = math.max(1, math.min(8,
      Runtime.getRuntime.availableProcessors / 2))
    val chunks = {
      val per = math.max(1, (sample.length + nThreads - 1) / nThreads)
      sample.grouped(per).toArray
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    var iter = 0
    while (iter < maxIter) {
      val cur = centroids
      val partials = chunks.map { chunk =>
        Future {
          val s = Array.fill(k)(new Array[Long](Dim))
          val cnt = new Array[Long](k)
          chunk.foreach { case (_, f) =>
            val c = assign(f, cur, dist)
            cnt(c) += 1
            var i = 0
            while (i < Dim) { s(c)(i) += f(i); i += 1 }
          }
          (s, cnt)
        }
      }
      val sums = Array.fill(k)(new Array[Long](Dim))
      val counts = new Array[Long](k)
      partials.foreach { fu =>
        val (s, cnt) = Await.result(fu, Duration.Inf)
        var c = 0
        while (c < k) {
          counts(c) += cnt(c)
          var i = 0
          while (i < Dim) { sums(c)(i) += s(c)(i); i += 1 }
          c += 1
        }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_.toDouble / counts(c))
      }.toArray
      iter += 1
    }
    centroids
  }

  /** Deterministic driver-local Lloyd's over DOUBLE vectors (embedding
    * pipelines): sequential accumulation, seeds = the k sample points
    * with the smallest (murmur3(id), id) — the double-typed twin of
    * [[fitLocal]].
    */
  def fitLocalDouble(sample: Array[(Long, Array[Double])], k0: Int,
      maxIter: Int = MaxIter): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty kmeans sample")
    val k = math.min(k0, sample.length)
    val dim = sample.head._2.length
    def idHash(id: Long): Int =
      scala.util.hashing.MurmurHash3.productHash(Tuple1(id), HashSeed)
    var centroids = sample
      .sortBy { case (id, _) => (idHash(id), id) }
      .take(k)
      .map(_._2.clone())
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { case (_, f) =>
        val c = argminDist(f, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += f(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      iter += 1
    }
    centroids
  }

  /** Argmin over [[distances]], ties to the lower id. */
  def argminDist(feat: Array[Double], centroids: Array[Array[Double]]): Int = {
    val ds = distances(feat, centroids)
    var best = 0
    var i = 1
    while (i < ds.length) { if (ds(i) < ds(best)) best = i; i += 1 }
    best
  }
}
