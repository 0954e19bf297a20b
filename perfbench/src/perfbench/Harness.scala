package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.build.{IndexBuilder, IndexSchemas, ManifestIO}
import graft.maintain.Maintenance
import graft.query.{Bm25SqlPath, IndexSearcher}

/** One benchmark run of one workload, driven by `run.py`.
  *
  * Arguments are `key=value` pairs: `workload`, `seconds`, `trace`
  * (0/1), `work` (the run directory holding `data/`, `plan.json` and
  * `appends/`), `out` (raw JSON result), `cpus`, `parts` (shuffle
  * partitions at every level) and, for the pipeline, `queries`
  * (comma-separated `SparkEntry.queries` names).
  *
  * One client calls the library in a closed loop: every call waits for
  * the previous one. Timed samples, setup times, correctness results
  * and (when traced) the raw trace go to `out`; `metrics.py` turns them
  * into metrics.
  */
object Harness {
  type Queries = Seq[(Int, Seq[String])]
  type Result = Seq[(Int, Int, Long, Double)]

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Sample(kind: String, ms: Double, traced: Boolean)

  final class Run(val opts: Map[String, String]) {
    val workload: String = opts("workload")
    val seconds: Double = opts("seconds").toDouble
    val traced: Boolean = opts("trace") == "1"
    val work: String = opts("work")
    val data: String = s"$work/data"
    val cpus: Int = opts("cpus").toInt
    val parts: Int = opts("parts").toInt
    val plan: Map[String, Any] = mapper.readValue(
      new File(s"$work/plan.json"), classOf[Map[String, Any]])

    val rec = new Recorder
    val samples = ArrayBuffer.empty[Sample]
    val setupS = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[String] // exceptions + mismatches
    var attempted = 0
    val extra = scala.collection.mutable.Map.empty[String, Any]
    private var nextReq = 0
    var spark: SparkSession = _

    def session(n: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$n]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", parts.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        // small inputs: without these the scans collapse onto 1-2 splits
        .config("spark.sql.files.maxPartitionBytes", (256 * 1024).toString)
        .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      rec.attach(s)
      spark = s
      s
    }

    def stopSession(): Unit = { spark.stop(); spark = null }

    /** Time one call as a sample of `kind`, traced if the run is and
      * `trace` holds. A call that throws counts as failed.
      */
    def timed[T](kind: String, layer: String, op: String, trace: Boolean)(
        body: => T): Option[T] = {
      attempted += 1
      val req = nextReq
      nextReq += 1
      val on = traced && trace
      if (traced) rec.gate(spark, on)
      val t0 = System.nanoTime()
      try {
        val r = rec.span(layer, op, req)(body)
        samples += Sample(kind, (System.nanoTime() - t0) / 1e6, on)
        Some(r)
      } catch {
        case NonFatal(e) =>
          failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    /** Untimed setup, recorded as one setup sample; traced when the run
      * is.
      */
    def setup[T](body: => T): T = {
      val t0 = System.nanoTime()
      rec.on = traced
      val r = body
      setupS += (System.nanoTime() - t0) / 1e9
      r
    }

    /** Untimed correctness check: untraced, counted as attempted. */
    def check(what: String)(ok: => Boolean): Unit = {
      if (spark != null) rec.gate(spark, false)
      attempted += 1
      try { if (!ok) failures += s"mismatch: $what" }
      catch { case NonFatal(e) => failures += s"$what: ${e.getMessage}" }
    }

    def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong

    /** Rounds or passes a run makes at least: a traced run traces each
      * call of a round or pass in one of two of them.
      */
    def minRepeats: Int = if (traced) 2 else 1

    def queries(key: String): Queries = queriesOf(plan(key))

    /** A cold, non-resumed full build of the workload's corpus. */
    def build(dir: String): IndexBuilder.BuildResult = {
      val r = IndexBuilder.build(spark, data, dir,
        IndexBuilder.BuildConfig(resume = false))
      r.stepWindows.foreach { case (n, a, b) =>
        rec.addWindow("build", n, a.toDouble, b.toDouble)
      }
      r
    }

    def tmpDir(name: String): String = {
      val d = s"$work/idx/$name"
      FileUtils.deleteQuietly(new File(d))
      d
    }
  }

  def queriesOf(v: Any): Queries = v.asInstanceOf[Seq[Seq[Any]]].map { q =>
    (q(0).asInstanceOf[Number].intValue, q(1).asInstanceOf[Seq[String]])
  }

  /** (query_id, rank, doc_id, score) rows of a top-k frame. */
  def rows(df: DataFrame): Result =
    df.collect().toSeq.map((r: Row) =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  /** Rank-identity of two top-k results, ids and scores. */
  def same(a: Result, b: Result): Boolean =
    a.sorted == b.sorted

  /** Exact WAND search over `idx` against the SQL scorer over the
    * index's live docstore rows, for the same queries.
    */
  def rankIdentity(r: Run, idx: String, qs: Queries): Boolean = {
    val wand = rows(IndexSearcher.topK(r.spark, idx, qs, 10))
    wand.nonEmpty &&
      same(wand, rows(Bm25SqlPath.topK(r.spark, liveDocs(r, idx), qs, 10)))
  }

  /** Docstore rows of the index's docs that are not tombstoned. */
  def liveDocs(r: Run, idx: String): DataFrame = {
    val dead = Maintenance.loadTombstones(idx)
    IndexSchemas.readDocstore(r.spark, idx)
      .filter(!col("doc_id").isin(dead.toSeq: _*))
  }

  def dirBytes(dir: String): Long = FileUtils.sizeOfDirectory(new File(dir))

  /** Content bytes of the live docs, the denominator of the index's
    * bytes per source byte.
    */
  def sourceBytes(r: Run, idx: String): Long =
    liveDocs(r, idx).agg(sum(length(col("content")))).head().getLong(0)

  def recordIndex(r: Run, idx: String): Unit = {
    val m = ManifestIO.read(s"$idx/manifest.json")
    r.extra("index_bytes") = dirBytes(idx)
    r.extra("source_bytes") = sourceBytes(r, idx)
    r.extra("postings") = m.segments.map(_.num_postings).sum
    r.extra("posting_bytes") = m.segments.map(_.bytes).sum
    r.extra("docs") = m.num_docs
  }

  def cachedMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  // ---- workloads -------------------------------------------------------

  /** Every index-side public entry point on one seeded corpus.
    *
    * Setup builds the index at local[cpus] and warms the WAND and SQL
    * scorers (the first SQL call fills its term-frequency cache). The
    * timed part then runs for `seconds`:
    *  - for its first half, exact single queries on the clean setup
    *    index in a closed loop (at least two);
    *  - then rounds until the time is up (at least one), each running
    *    in order: two w = 1 single queries, one 20-query WAND batch and
    *    one 20-query `Bm25SqlPath` batch on the clean index, in seeded
    *    order; one cold full build into a fresh directory; and, on a
    *    working copy of the index, one 1,000-doc append, one 1,000-id
    *    delete, two exact searches on the fragmented, tombstoned index,
    *    one `mergeSegments`, and one `compact` into a fresh directory.
    * A traced run traces every other call: every other exact query, and
    * in each round the calls the previous round left untraced. Then
    * every output is checked, and one more full build runs at local[1]
    * for the scaling efficiency.
    */
  def indexWorkload(r: Run): Unit = {
    val idx = r.tmpDir("base")
    val work = r.tmpDir("work")
    val docs = r.setup {
      r.session(r.cpus)
      r.rec.span("build", "build")(r.build(idx))
      FileUtils.copyDirectory(new File(idx), new File(work))
      val docs = IndexSchemas.readDocstore(r.spark, idx)
      val qs = r.queries("check_queries")
      r.rec.span("query", "sql_batch")(rows(Bm25SqlPath.topK(r.spark, docs, qs, 10)))
      r.rec.span("query", "wand_batch")(rows(IndexSearcher.topK(r.spark, idx, qs, 10)))
      docs
    }
    val nBase = ManifestIO.read(s"$idx/manifest.json").num_docs
    val exact = r.plan("exact").asInstanceOf[Seq[Any]].map(queriesOf)
    val reads = r.plan("search").asInstanceOf[Seq[Seq[Map[String, Any]]]]
    val appends = r.plan("appends").asInstanceOf[Seq[String]]
    val deletes = r.plan("deletes").asInstanceOf[Seq[Seq[Number]]]
    val mqs = Iterator.continually(r.queries("maint_queries")).flatten
    val results = ArrayBuffer.empty[(String, Queries, Result)]
    val gauges = ArrayBuffer.empty[Map[String, Double]]
    // directories to check after the timed part, with the docs each holds
    val built, compacted = ArrayBuffer.empty[(String, Long)]
    var appended, deleted = 0L
    val start = System.nanoTime()
    val end = start + (r.seconds * 1e9).toLong

    var i = 0
    while (i < exact.size && (i < 2 || System.nanoTime() < start + (end - start) / 2)) {
      r.timed("exact", "query", "topk", i % 2 == 0)(
        rows(IndexSearcher.topK(r.spark, idx, exact(i), 10)))
        .foreach(o => results += (("exact", exact(i), o)))
      i += 1
    }

    var round = 0
    while (round < appends.size &&
        (round < r.minRepeats || System.nanoTime() < end)) {
      var call = 0
      def trace(): Boolean = { call += 1; (round + call) % 2 == 1 }
      val t0 = System.nanoTime()
      for (req <- reads(round)) {
        val kind = req("kind").asInstanceOf[String]
        val qs = queriesOf(req("queries"))
        val out = kind match {
          case "probe" => r.timed(kind, "query", "topk_w1", trace())(
            rows(IndexSearcher.topK(r.spark, idx, qs, 10, w = 1)))
          case "batch" => r.timed(kind, "query", "wand_batch", trace())(
            rows(IndexSearcher.topK(r.spark, idx, qs, 10)))
          case "sql" => r.timed(kind, "query", "sql_batch", trace())(
            rows(Bm25SqlPath.topK(r.spark, docs, qs, 10)))
        }
        out.foreach(o => results += ((kind, qs, o)))
      }

      val dir = r.tmpDir(s"build-$round")
      r.timed("build", "build", "build", trace())(r.build(dir))
      built += ((dir, nBase))

      val src = r.spark.read.parquet(appends(round))
      val n = src.count()
      r.timed("append", "maintain", "append", trace())(
        Maintenance.append(r.spark, work, src)).foreach(_ => appended += n)
      val ids = deletes(round).map(_.longValue)
      r.timed("delete", "maintain", "delete", trace())(
        Maintenance.delete(work, ids)).foreach(_ => deleted += ids.size)
      for (_ <- 0 until 2) {
        val m = ManifestIO.read(s"$work/manifest.json")
        gauges += Map(
          "postings_files" -> FileUtils.listFiles(new File(s"$work/postings"),
            Array("parquet"), true).size.toDouble,
          "segments" -> m.segments.size.toDouble,
          "tombstones" -> Maintenance.loadTombstones(work).size.toDouble,
          "index_mb" -> dirBytes(work) / 1e6)
        r.timed("msearch", "query", "topk_fragmented", trace())(
          rows(IndexSearcher.topK(r.spark, work, Seq(mqs.next()), 10)))
      }
      r.timed("merge", "maintain", "merge", trace())(
        Maintenance.mergeSegments(r.spark, work))
      val into = r.tmpDir(s"compact-$round")
      r.timed("compact", "maintain", "compact", trace()) {
        Maintenance.compact(r.spark, work, into).stepWindows.foreach {
          case (s, a, b) => r.rec.addWindow("compact", s, a.toDouble, b.toDouble)
        }
      }
      compacted += ((into, nBase + appended - deleted))
      r.samples += Sample("round", (System.nanoTime() - t0) / 1e6, false)
      round += 1
    }
    if (r.traced) r.rec.gate(r.spark, false)
    r.extra("gauges") = gauges.toSeq
    r.extra("rounds") = round
    recordIndex(r, idx)
    r.extra("cached_mb") = cachedMb(r.spark)

    // every exact read against one run of each scorer over all of the
    // issued exact queries, renumbered so they are distinct
    val checked = results.filter(_._1 != "probe").toSeq
    val numbered = checked.zipWithIndex.flatMap { case ((_, qs, _), i) =>
      qs.map { case (q, t) => (i * 100 + q, t) }
    }
    val wand = rows(IndexSearcher.topK(r.spark, idx, numbered, 10))
    val sql = rows(Bm25SqlPath.topK(r.spark, docs, numbered, 10))
    r.check("WAND vs SQL scorer")(wand.nonEmpty && same(wand, sql))
    checked.zipWithIndex.foreach { case ((kind, _, got), i) =>
      val want = (if (kind == "sql") sql else wand)
        .filter(_._1 / 100 == i).map(x => x.copy(_1 = x._1 % 100))
      r.check(s"$kind request $i")(same(got, want))
    }
    // w = 1 is approximate: check the shape of each answer
    results.filter(_._1 == "probe").foreach { case (_, _, got) =>
      r.check("w=1 answer shape")(got.size <= 10 &&
        got.map(_._3).distinct.size == got.size &&
        got.sortBy(_._2).map(_._4) == got.map(_._4).sorted.reverse)
    }
    built.foreach { case (dir, n) =>
      r.check(s"doc count of $dir")(
        ManifestIO.read(s"$dir/manifest.json").num_docs == n)
    }
    compacted.foreach { case (dir, n) =>
      r.check(s"doc count of $dir")(
        ManifestIO.read(s"$dir/manifest.json").num_docs == n)
      r.check(s"rank identity of $dir")(
        rankIdentity(r, dir, r.queries("check_queries")))
    }

    // the same build at one core, same input and shuffle partitions
    r.stopSession()
    r.session(1)
    r.timed("build1", "build", "build1", true)(r.build(r.tmpDir("build-1core")))
  }

  /** Passes over the `SparkEntry.queries` entries named by the
    * `queries` argument (those the index workload does not cover); the
    * setup pass writes every output, with their `SparkEntry.oracleSql`,
    * in the layout `tools/check_oracle.py` compares against DuckDB.
    */
  def pipelineWorkload(r: Run): Unit = {
    val queries = r.opts("queries").split(",").toSeq
    val out = s"${r.work}/oracle"
    r.setup {
      r.session(r.cpus)
      queries.foreach { q =>
        r.attempted += 1
        r.rec.span("ops", q)(
          try SparkEntry.queries(q)(r.spark, r.data).write
            .mode("overwrite").parquet(s"$out/$q")
          catch { case NonFatal(e) => r.failures += s"$q: ${e.getMessage}" })
      }
    }
    val sql = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      mapper.writeValueAsString(sql.toMap))
    val end = r.deadline()
    var pass = 0
    while (pass < r.minRepeats || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      // a traced run traces every other query, the others in the next pass
      val ok = queries.zipWithIndex.forall { case (q, i) =>
        r.timed(q, "ops", q, (pass + i) % 2 == 0)(SparkEntry.queries(q)(r.spark, r.data)
          .write.format("noop").mode("overwrite").save()).nonEmpty
      }
      if (ok) r.samples += Sample("pass", (System.nanoTime() - t0) / 1e6, false)
      pass += 1
    }
    if (r.traced) r.rec.gate(r.spark, false)
    recordIndex(r, graft.build.Indexes.indexDirFor(r.data))
    r.extra("cached_mb") = cachedMb(r.spark)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val r = new Run(opts)
    val t0 = System.nanoTime()
    try r.workload match {
      case "index" => indexWorkload(r)
      case "pipeline" => pipelineWorkload(r)
    } catch {
      case NonFatal(e) =>
        r.failures += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    }
    val sparkVersion = org.apache.spark.SPARK_VERSION
    if (r.spark != null) r.stopSession()
    val res = Map(
      "workload" -> r.workload,
      "traced" -> r.traced,
      "env" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> sparkVersion, "cpus" -> r.cpus, "parts" -> r.parts),
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "setup_s" -> r.setupS.toSeq,
      "samples" -> r.samples.toSeq.map(s =>
        Map("kind" -> s.kind, "ms" -> s.ms, "traced" -> s.traced)),
      "attempted" -> r.attempted,
      "failures" -> r.failures.toSeq,
      "extra" -> r.extra.toMap) ++
      (if (r.traced) Map("trace" -> r.rec.dump()) else Map.empty)
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(res))
  }
}
