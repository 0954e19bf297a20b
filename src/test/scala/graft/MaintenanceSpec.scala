package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, IndexSchemas, ManifestIO}
import graft.cluster.{Distance, GraphCoarseSearch}
import graft.codec.PostingCodec
import graft.maintain.Maintenance
import graft.model.PostingBlock
import graft.query.{IndexSearcher, QuerySet}
import graft.sources.Corpus

/** F6 maintenance fixture (FIXTURES.md): delete head/middle/tail ranges,
  * compact, assert dense ids + postings follow their docs + query parity
  * with a fresh rebuild. Mirrors /root/reference/test/utils.jl:58-106.
  * Also pins compaction's parts: the tombstone shift, the docstore
  * rewrite, the postings transform and the frozen coarse quantizer.
  */
class MaintenanceSpec extends SparkSpec {

  def freshIndex(): String = {
    val dir = Files.createTempDirectory("graft-maint").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    dir
  }

  test("tombstoned docs vanish from results; other hits unchanged") {
    val dir = freshIndex()
    val before = IndexSearcher.topK(spark, dir, QuerySet.queries.take(5), 10)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    val victims = before.filter(_._1 == 1).take(3).map(_._2).distinct
    Maintenance.delete(dir, victims)
    val after = IndexSearcher.topK(spark, dir, QuerySet.queries.take(5), 10)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    assert(after.forall { case (_, id, _) => !victims.contains(id) })
    // surviving hits keep their exact scores
    val beforeMap = before.map { case (q, id, s) => (q, id) -> s }.toMap
    after.foreach { case (q, id, s) =>
      beforeMap.get((q, id)).foreach(old => assert(old == s))
    }
  }

  test("delete head/middle/tail + compact: ids dense in old order, sha follows") {
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    val dead = (0L until 10L) ++ (100L until 120L) ++ ((n - 5) until n)
    Maintenance.delete(dir, dead)
    val out = Files.createTempDirectory("graft-maint-out").toString
    Maintenance.compact(spark, dir, out)

    val oldStore = spark.read.parquet(s"$dir/docstore")
      .select("doc_id", "content_sha").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val newStore = spark.read.parquet(s"$out/docstore")
      .select("doc_id", "content_sha").collect()
      .sortBy(_.getLong(0))
    // dense 0..m-1
    assert(newStore.map(_.getLong(0)).toSeq == (0L until (n - dead.size)))
    // sha sequence = old survivors in old-id order (the reference's
    // shift-down semantics)
    val expected = (0L until n).filterNot(dead.toSet)
      .map(oldStore)
    assert(newStore.map(_.getString(1)).toSeq == expected)
    // manifest consistency
    val m2 = ManifestIO.read(s"$out/manifest.json")
    assert(m2.num_docs == n - dead.size)
    assert(m2.partitions.map(_.num_docs).sum == m2.num_docs)
  }

  test("compacted index query results == fresh rebuild of survivor corpus") {
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    val dead = (0L until 10L) ++ (200L until 230L)
    Maintenance.delete(dir, dead)
    val out = Files.createTempDirectory("graft-maint-out2").toString
    Maintenance.compact(spark, dir, out)

    // fresh rebuild over the same survivor rows (original id order ==
    // (repo,path,commit) order, so ids must line up exactly)
    import spark.implicits._
    val deadDf = dead.toDF("doc_id")
    val survivors = spark.read.parquet(s"$dir/docstore")
      .join(broadcast(deadDf), Seq("doc_id"), "left_anti")
      .select("repo", "path", "commit", "lang", "content")
    val fresh = Files.createTempDirectory("graft-maint-fresh").toString
    IndexBuilder.buildFromSource(spark, survivors, fresh,
      IndexBuilder.BuildConfig(resume = false))

    val a = IndexSearcher.topK(spark, out, QuerySet.queries, 10).collect()
    val b = IndexSearcher.topK(spark, fresh, QuerySet.queries, 10).collect()
    assert(a.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq ==
      b.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq)
  }

  test("pop/popFirst reconstruct exactly and tombstone; prepend shifts ids up") {
    import spark.implicits._
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    val last = Maintenance.popLast(spark, dir).get
    assert(last.getAs[Long]("doc_id") == n - 1)
    val first = Maintenance.popFirst(spark, dir).get
    assert(first.getAs[Long]("doc_id") == 0L)
    // reconstruction is exact (lossless docstore)
    assert(last.getAs[String]("content_sha").length == 64)
    assert(Maintenance.loadTombstones(dir) == Set(0L, n - 1))

    val newRows = Seq(("repo-z", "src/z/first.c", "c0ffee00cafe", "c",
      "prepended content wins id zero")).toDF(
      "repo", "path", "commit", "lang", "content")
    val out = java.nio.file.Files.createTempDirectory("graft-prepend").toString
    Maintenance.prepend(spark, dir, newRows, out)
    val store = spark.read.parquet(s"$out/docstore")
      .select("doc_id", "path").orderBy("doc_id").collect()
    assert(store.head.getString(1) == "src/z/first.c") // id 0 = new doc
    assert(store.length == n - 2 + 1) // survivors + prepended
    assert(store.map(_.getLong(0)).toSeq == (0L until (n - 1)))
    // introspection (X1-X3)
    assert(graft.build.IndexInfo.numDocs(out) == n - 1)
    val desc = graft.build.IndexInfo.describe(out)
    assert(desc.contains("B/posting") && desc.contains(s"docs=${n - 1}"))
  }

  test("segment merge consolidates appended blocks and refreshes avgdl") {
    import spark.implicits._
    val dir = freshIndex()
    (1 to 2).foreach { i =>
      Maintenance.append(spark, dir, Seq(
        (s"repo-m$i", s"src/m$i/a.c", f"feed$i%08d0001", "c",
          "quartz melody quartz dup join"),
        (s"repo-m$i", s"src/m$i/b.c", f"feed$i%08d0002", "c",
          "melody xylophone join hash"))
        .toDF("repo", "path", "commit", "lang", "content"))
    }
    val preBlocks = spark.read.parquet(s"$dir/postings")
      .groupBy("cluster_id", "term").count()
      .filter(col("count") > 1).count()
    assert(preBlocks > 0, "appends should leave fragmented (cluster,term) runs")
    // every posting as (cluster, term, doc, tf, dl, positions), with
    // its multiplicity
    def decoded() = IndexSchemas.readPostings(spark, dir).as[PostingBlock]
      .collect().toSeq
      .flatMap(b => PostingCodec.decodeEntries(b).map(e =>
        (b.cluster_id, b.term, e.doc, e.tf, e.dl, e.positions.toSeq)))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val before = decoded()

    Maintenance.mergeSegments(spark, dir)

    val m = ManifestIO.read(s"$dir/manifest.json")
    assert(m.num_docs == 504)
    // avgdl refreshed to the exact docstore mean
    val exact = spark.read.parquet(s"$dir/docstore")
      .agg(sum(col("doc_len")), count(org.apache.spark.sql.functions.lit(1)))
      .head()
    assert(m.avgdl == exact.getLong(0).toDouble / exact.getLong(1))
    // merge re-encodes, never adds, drops or alters a posting
    assert(decoded() == before)
    // blocks consolidated: within every (cluster, granule, term) run,
    // every block but the last is full
    val w = m.granule_window
    val underfull = IndexSchemas.readPostings(spark, dir)
      .select("cluster_id", "term", "first_doc", "count").collect()
      .groupBy(r => (r.getInt(0), r.getLong(2) / w, r.getString(1)))
      .filter { case (_, run) =>
        run.sortBy(_.getLong(2)).init.exists(_.getInt(3) != PostingCodec.BlockSize)
      }
      .keys
    assert(underfull.isEmpty, underfull.take(5))
    // post-merge WAND == declarative scoring over the SAME docstore
    val wand = IndexSearcher.topK(spark, dir,
      QuerySet.queries.take(5) :+ (99 -> Seq("quartz", "join")), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val sql = graft.query.Bm25SqlPath.topK(spark,
      spark.read.parquet(s"$dir/docstore"),
      QuerySet.queries.take(5) :+ (99 -> Seq("quartz", "join")), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(wand.toSeq == sql.toSeq)
  }

  test("append: new docs searchable with insertion-order ids; sha invariant holds") {
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    import spark.implicits._
    val newRows = Seq(
      ("repo-x", "src/new/a.scala", "c0ffee000001", "scala",
        "zebra quail zebra dup merge"),
      ("repo-x", "src/new/b.scala", "c0ffee000002", "scala",
        "zebra join hash quail")
    ).toDF("repo", "path", "commit", "lang", "content")
    def docstoreFiles() = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir, "docstore")).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
    }
    val built = docstoreFiles()
    Maintenance.append(spark, dir, newRows)

    // the parquet files append writes have the build's schema, column
    // order included
    def schemas(files: Set[String]) = files.map(f =>
      spark.read.parquet(f).schema.fields.map(c => (c.name, c.dataType)).toSeq)
    val appended = docstoreFiles() -- built
    assert(appended.nonEmpty)
    assert(schemas(appended) == schemas(built))
    assert(schemas(built).size == 1)

    val m2 = ManifestIO.read(s"$dir/manifest.json")
    assert(m2.num_docs == n + 2)
    // new ids continue densely
    val ids = spark.read.parquet(s"$dir/docstore")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until (n + 2)))
    // the new rare term is found, scored, and ranked
    val hits = IndexSearcher.topK(spark, dir, Seq(99 -> Seq("zebra")), 10)
      .collect()
    assert(hits.map(_.getLong(2)).toSet == Set(n, n + 1))
    // appended sha invariant
    val shas = Maintenance.fetchDocs(spark, dir, Seq(n, n + 1))
      .map(_.getAs[String]("content_sha"))
    val exp = Seq("zebra quail zebra dup merge", "zebra join hash quail")
      .map(s => java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(shas.toSeq == exp)
  }

  test("manifest matches disk after build, append, delete, append, merge and compact") {
    import spark.implicits._
    val dir = freshIndex()
    // the reference: what the manifest recompute scans derived from disk
    def check(dir: String, step: String): Unit = {
      val m = ManifestIO.read(s"$dir/manifest.json")
      val postings = IndexSchemas.readPostings(spark, dir)
      val bytes = length(col("doc_gaps")) + length(col("tfs")) +
        length(col("dls")) + length(col("positions"))
      def blockStats(key: String) = postings.groupBy(key)
        .agg(sum(col("count")), count(lit(1)), sum(bytes))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      val docs = IndexSchemas.readDocstore(spark, dir)
        .groupBy("cluster_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val perCluster = blockStats("cluster_id")
      assert(m.partitions.map(p => (p.cluster_id, p.num_docs,
        (p.num_postings, p.num_blocks, p.bytes))) ==
        docs.keys.toSeq.sorted.map(c =>
          (c, docs(c), perCluster.getOrElse(c, (0L, 0L, 0L)))), step)
      assert(m.num_docs == docs.values.sum, step)
      // granule containment: no block crosses its (cluster, window)
      val w = m.granule_window
      assert(postings.filter(
        expr(s"first_doc div $w") =!= expr(s"last_doc div $w")).count() == 0,
        step)
      assert(m.vocab_size ==
        IndexSchemas.readDictionary(spark, dir).count(), step)
      val perSegment = blockStats("segment_id")
      assert(m.segments.map(s => (s.segment_id,
        (s.num_postings, s.num_blocks, s.bytes))) ==
        perSegment.keys.toSeq.sorted.map(s => (s, perSegment(s))), step)
      val (edges, upper) = GraphCoarseSearch.buildGraph(m.centroids,
        metric = Distance.byName(m.distance))
      assert(m.coarse_graph.map(_.toSeq).toSeq ==
        edges.map(_.toSeq).toSeq, step)
      assert(m.coarse_graph_upper.map(_.map(_.toSeq).toSeq).toSeq ==
        upper.map(_.map(_.toSeq).toSeq).toSeq, step)
    }
    def batch(tag: String) = Seq(
      (s"repo-$tag", s"src/$tag/a.c", s"${tag}00000001", "c",
        "quartz melody quartz dup join"),
      (s"repo-$tag", s"src/$tag/b.c", s"${tag}00000002", "c",
        s"melody xylophone join hash $tag"))
      .toDF("repo", "path", "commit", "lang", "content")
    check(dir, "build")
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    Maintenance.append(spark, dir, batch("a1"))
    check(dir, "append 1")
    Maintenance.delete(dir, Seq(3L, n))
    check(dir, "delete")
    Maintenance.append(spark, dir, batch("a2"))
    check(dir, "append 2")
    Maintenance.mergeSegments(spark, dir)
    check(dir, "merge")
    assert(ManifestIO.read(s"$dir/manifest.json").num_docs == n + 4)
    val out = Files.createTempDirectory("graft-maint-check").toString
    Maintenance.compact(spark, dir, out)
    check(out, "compact")
    assert(ManifestIO.read(s"$out/manifest.json").num_docs == n + 2)
  }

  test("TombstoneShiftExpr.shift == rank among survivors in old-id order") {
    val dead = Array(0L, 3L, 4L, 9L, 17L)
    val n = 20L
    val survivors = (0L until n).filterNot(dead.contains)
    survivors.zipWithIndex.foreach { case (old, rank) =>
      assert(graft.functions.TombstoneShiftExpr.shift(dead, old) == rank,
        s"old=$old")
    }
    dead.foreach { d =>
      assert(graft.functions.TombstoneShiftExpr.shift(dead, d) ==
        graft.functions.TombstoneShiftExpr.Dead)
    }
    // empty dead set: identity
    (0L until 5L).foreach { id =>
      assert(graft.functions.TombstoneShiftExpr.shift(Array.emptyLongArray, id) == id)
    }
  }

  test("compact docstore == dense re-rank of survivors") {
    val idx = Files.createTempDirectory("graft-maint-cidx").toString
    val out = Files.createTempDirectory("graft-maint-cout").toString
    try {
      IndexBuilder.build(spark, sf0001, idx,
        IndexBuilder.BuildConfig(resume = false))
      val dead = Set(1L, 2L, 10L, 49L)
      Maintenance.compact(spark, idx, out,
        deadOverride = Some(dead))
      // expectation derived INDEPENDENTLY of the shift expression: anti
      // join + window re-rank over the source docstore
      val src = spark.read.parquet(s"$idx/docstore")
      val expected = src
        .filter(!col("doc_id").isin(dead.toSeq: _*))
        .withColumn("new_id",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("doc_id"))) - 1).cast("long"))
        .select(col("new_id"), col("content_sha"), col("cluster_id"),
          col("doc_len"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getInt(3))).sortBy(_._1)
      val got = spark.read.parquet(s"$out/docstore")
        .select(col("doc_id"), col("content_sha"), col("cluster_id"),
          col("doc_len"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getInt(3))).sortBy(_._1)
      assert(got.toSeq == expected.toSeq)
      // manifest-level invariants: count, avgdl refreshed exactly
      val m = ManifestIO.read(s"$out/manifest.json")
      assert(m.num_docs == expected.length)
      val sumDl = expected.map(_._4.toLong).sum
      assert(m.avgdl == sumDl.toDouble / expected.length)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("compact postings transform == decode-shift of source postings") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-maint-tidx").toString
    val out = Files.createTempDirectory("graft-maint-tout").toString
    try {
      IndexBuilder.build(spark, sf0001, idx,
        IndexBuilder.BuildConfig(resume = false))
      val dead = Set(0L, 7L, 8L, 100L)
      Maintenance.compact(spark, idx, out,
        deadOverride = Some(dead))
      val deadArr = dead.toArray.sorted
      def decoded(dir: String): Seq[(String, Int, Long, Int, String)] =
        graft.build.IndexSchemas.readPostings(spark, dir)
          .as[graft.model.PostingBlock].collect().toSeq
          .flatMap { b =>
            graft.codec.PostingCodec.decodeEntries(b).map(e =>
              (b.term, b.cluster_id, e.doc, e.tf,
                e.positions.mkString(",")))
          }
      // expectation: source entries, dead dropped, ids shifted
      val expected = decoded(idx).flatMap { case (t, c, d, tf, pos) =>
        val nid = graft.functions.TombstoneShiftExpr.shift(deadArr, d)
        if (nid < 0) None else Some((t, c, nid, tf, pos))
      }.sorted
      assert(decoded(out).sorted == expected)
      // and every block stays inside one NEW granule (the query-side
      // split invariant)
      val w = ManifestIO.read(s"$out/manifest.json").granule_window
      graft.build.IndexSchemas.readPostings(spark, out)
        .as[graft.model.PostingBlock].collect().foreach { b =>
          assert(b.first_doc / w == b.last_doc / w,
            s"block crosses granules: ${b.term} ${b.first_doc}..${b.last_doc}")
        }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("compact reuses the coarse quantizer: centroids frozen, assignments stable") {
    val dir = Files.createTempDirectory("graft-maint-qidx").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    val m0 = ManifestIO.read(s"$dir/manifest.json")
    val out = Files.createTempDirectory("graft-maint-qout").toString
    // dead set includes an id ABSENT from the index: a deadOverride
    // bypasses delete()'s validation, and the survivor-count hint must
    // not shrink for it [ADVICE r4]
    val dead = Set(0L, 5L, 7L, 999999L)
    val res = Maintenance.compact(spark, dir, out, deadOverride = Some(dead))
    // four sequential steps, each window after its predecessor's end
    assert(res.stepWindows.map(_._1) ==
      Seq("docstore", "postings", "dictionary", "manifest"))
    res.stepWindows.foreach { case (s, lo, hi) => assert(hi >= lo, s) }
    res.stepWindows.sliding(2).foreach {
      case Seq((_, _, hiA), (b, loB, _)) => assert(loB >= hiA, b)
      case _ =>
    }
    val m1 = ManifestIO.read(s"$out/manifest.json")
    assert(m1.num_docs == m0.num_docs - 3)
    // no retrain: kc and every centroid bit-identical to the source index
    assert(m1.kc == m0.kc)
    assert(m1.centroids.length == m0.centroids.length &&
      m1.centroids.zip(m0.centroids).forall { case (a, b) => a.sameElements(b) })
    assert(m1.distance == m0.distance)
    // no granule-weights side file: nothing reads it
    Seq(dir, out).foreach { d =>
      assert(!Files.exists(java.nio.file.Paths.get(d, "_checkpoints",
        "granuleweights.json")), d)
    }
    // per-doc assignments stable across compaction (same content, same
    // centroids ⇒ same cell — the reference's delete never moves points
    // between inverted lists, /root/reference/src/utils.jl:90-105)
    val before = spark.read.parquet(s"$dir/docstore")
      .select(col("content_sha"), col("cluster_id").as("c0"))
    val after = spark.read.parquet(s"$out/docstore")
      .select(col("content_sha"), col("cluster_id").as("c1"))
    val moved = before.join(after, "content_sha")
      .filter(col("c0") =!= col("c1")).count()
    assert(moved == 0, s"$moved docs changed cluster across compaction")
    // compaction is not a build: the coarse graph carries over and the
    // compacted dir holds no build checkpoint
    assert(m1.coarse_graph.map(_.toSeq).toSeq ==
      m0.coarse_graph.map(_.toSeq).toSeq)
    assert(m1.coarse_graph_upper.map(_.map(_.toSeq).toSeq).toSeq ==
      m0.coarse_graph_upper.map(_.map(_.toSeq).toSeq).toSeq)
    assert(!Files.exists(java.nio.file.Paths.get(out, "_checkpoints")))
  }

  test("compacting an all-tombstoned index yields a valid empty index") {
    val dir = freshIndex()
    val m0 = ManifestIO.read(s"$dir/manifest.json")
    Maintenance.delete(dir, 0L until m0.num_docs)
    val out = Files.createTempDirectory("graft-maint-empty").toString
    Maintenance.compact(spark, dir, out)
    val m = ManifestIO.read(s"$out/manifest.json")
    assert(m.num_docs == 0)
    assert(m.avgdl == 0.0)
    assert(m.vocab_size == 0)
    assert(m.partitions.isEmpty)
    assert(m.segments.isEmpty)
    assert(m.centroids.length == m0.centroids.length)
    assert(IndexSchemas.readDocstore(spark, out).count() == 0)
    assert(IndexSchemas.readPostings(spark, out).count() == 0)
    assert(IndexSchemas.readDictionary(spark, out).count() == 0)
    Seq(Int.MaxValue, 1).foreach { w =>
      assert(IndexSearcher.topK(spark, out, QuerySet.queries, 10, w = w)
        .collect().isEmpty, s"w=$w")
    }
  }

  test("concurrent deletes into one index all land") {
    // delete touches only tombstones.json, so an empty dir stands in for
    // an index
    val dir = Files.createTempDirectory("graft-maint-conc").toString
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 8).map { t =>
      val th = new Thread(() => {
        start.await()
        (0 until 25).foreach { i =>
          Maintenance.delete(dir, Seq(t * 1000L + 2 * i, t * 1000L + 2 * i + 1))
        }
      })
      th.start()
      th
    }
    start.countDown()
    threads.foreach(_.join())
    assert(Maintenance.loadTombstones(dir) ==
      (0 until 8).flatMap(t => (0 until 50).map(t * 1000L + _)).toSet)
  }
}
