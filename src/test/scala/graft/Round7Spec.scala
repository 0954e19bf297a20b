package graft

import org.apache.spark.sql.functions._

/** Round-7 optimization pins: every r7 rewrite must be output-identical
  * to the form it replaced — these tests state each equivalence
  * directly (the oracle hash-match states it end-to-end).
  */
class Round7Spec extends SparkSpec {

  test("driver-sort dense ids == distributed-exchange dense ids") {
    import spark.implicits._
    // adversarial keys: non-ASCII (incl. a supplementary character,
    // where UTF-16 code-unit order and UTF8 binary order could diverge
    // if the driver sort used plain String ordering), empties, shared
    // prefixes, and a null (Spark sorts it first; the driver sort
    // hands it to the distributed path instead of comparing it)
    val keys = Seq("b", "a", "éclair", "zz", "😀emoji",
      "é", "aa", "", "Z", "z", "中文", "a b", null)
    val src = keys.zipWithIndex
      .map { case (k, i) => (k, s"p$i", s"c$i") }
      .toDF("repo", "path", "commit")
      .repartition(4)
    def ids(strategy: String, hint: Long) = graft.sources.Corpus
      .withDenseIdCounted(src, Seq("repo", "path", "commit"), "id",
        strategy = strategy, rowHint = hint)
      .df.select(col("repo"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(r => Option(r._1))
    val viaDriver = ids("auto", keys.size.toLong) // driver-sort path
    val viaExchange = ids("exchange", 0L)
    assert(viaDriver.toSeq == viaExchange.toSeq)
    // an over-bound or absent hint must not change results either
    assert(ids("auto", 0L).toSeq == viaExchange.toSeq)
  }

  test("buildWithQueries == build + separate query collect (model + queries)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val (m1, _, qs) = graft.parity.IvfAdc.buildWithQueries(
      spark, emb, kc = 4, m = 4, k = 8, queryIds = qids)
    val (m2, _) = graft.parity.IvfAdc.build(spark, emb, kc = 4, m = 4, k = 8)
    assert(java.util.Arrays.deepEquals(
      m1.centroids.asInstanceOf[Array[AnyRef]],
      m2.centroids.asInstanceOf[Array[AnyRef]]))
    assert(m1.codebooks.books.flatten.flatten.toSeq ==
      m2.codebooks.books.flatten.flatten.toSeq)
    import spark.implicits._
    val qs2 = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id.toInt, v) }.toSeq
    assert(qs.map(_._1) == qs2.map(_._1))
    assert(qs.map(_._2.toSeq) == qs2.map(_._2.toSeq))

    // the guard limit binds: every vec_id is a stride multiple, so the
    // stride filter keeps every row and the collect stops at the limit
    val nEmb = emb.count()
    val cap = (nEmb / 10).toInt
    val stride = nEmb / cap
    val strided = emb.withColumn("vec_id", col("vec_id").cast("long") * stride)
    val sids = qids.map(_ * stride)
    val (b1, _, bqs) = graft.parity.IvfAdc.buildWithQueries(
      spark, strided, kc = 4, m = 4, k = 8, queryIds = sids, sampleCap = cap)
    val (b2, _) = graft.parity.IvfAdc.build(spark, strided, kc = 4, m = 4,
      k = 8, sampleCap = cap)
    assert(java.util.Arrays.deepEquals(
      b1.centroids.asInstanceOf[Array[AnyRef]],
      b2.centroids.asInstanceOf[Array[AnyRef]]))
    assert(b1.codebooks.books.flatten.flatten.toSeq ==
      b2.codebooks.books.flatten.flatten.toSeq)
    val bqs2 = strided.filter(col("vec_id").isin(sids: _*))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id.toInt, v) }.toSeq
    assert(bqs.map(_._1) == sids.map(_.toInt))
    assert(bqs.map(_._1) == bqs2.map(_._1))
    assert(bqs.map(_._2.toSeq) == bqs2.map(_._2.toSeq))
  }

  test("per-row array_distinct == global distinct for shingles and fingerprints") {
    val docs = graft.sources.Corpus.docs(spark, sf0001)
    // shingles: the r7 zero-exchange form vs an explicit global distinct
    // over the same exploded (non-deduped) base
    val sh = graft.ops.Dedup.shingles(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val base = docs
      .select(col("doc_id"),
        graft.tokenize.Tokenizer.tokensCol(col("content")).as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= graft.ops.Dedup.ShingleN,
          expr("transform(sequence(0, size(toks) - " +
            graft.ops.Dedup.ShingleN + "), i -> concat_ws(' ', " +
            (0 until graft.ops.Dedup.ShingleN).map(j => s"toks[i+$j]")
              .mkString(", ") + "))"))
          .otherwise(array().cast("array<string>"))).as("shingle"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(sh.toSeq == base.toSeq)
    assert(sh.length == sh.distinct.length)
    // fingerprints: output-distinct per (doc_id, fingerprint)
    val fp = graft.ops.TextStats.fingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fp.length == fp.distinct.length)
  }

  test("shared termStats/corpusStats frames == direct aggregation") {
    val docs = graft.sources.Corpus.docs(spark, sf0001)
    val viaCache = graft.query.Bm25SqlPath.termStats(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val direct = docs
      .select(col("doc_id"),
        explode(graft.tokenize.Tokenizer.tokensCol(col("content")))
          .as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(viaCache.toSeq == direct.toSeq)
    val st = graft.query.Bm25SqlPath.corpusStats(docs).head()
    val dn = docs.count()
    assert(st.getLong(0) == dn)
    assert(st.getDouble(1) ==
      docs.agg(avg(col("doc_len"))).head().getDouble(0))
  }

  test("Multimodal.assetsFrom(shared docs) == assets(spark, sfDir)") {
    val viaShared = graft.ops.Multimodal
      .assetsFrom(graft.sources.Corpus.docs(spark, sf0001))
      .select(col("asset_id"), col("kind"), col("width"),
        col("sample_rate"), length(col("payload")).as("nb"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).sortBy(_._1)
    val direct = graft.ops.Multimodal.assets(spark, sf0001)
      .select(col("asset_id"), col("kind"), col("width"),
        col("sample_rate"), length(col("payload")).as("nb"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).sortBy(_._1)
    assert(viaShared.toSeq == direct.toSeq)
  }
}
