package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, ManifestIO}
import graft.cluster.CoarseClusterer
import graft.maintain.Maintenance

/** Round-5 hardening: the append path's codegen assignment is actually
  * exercised (VERDICT r4 #2), a manifest of another format version is
  * refused with a rebuild message, and the embed dedup's cell
  * assignment is the codegen expression, bit-identical to the udf it
  * replaced (VERDICT r4 #4). (Compaction's frozen-quantizer test lives
  * in MaintenanceSpec.)
  */
class Round5Spec extends SparkSpec {

  test("append-path frame assigns via codegen ClusterAssign, no udf in plan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-r5-append").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    // the executed plan of the docstore write Maintenance.append runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // repartition: a bare LocalRelation source would let
    // ConvertToLocalRelation constant-fold the assignment projection
    // into a LocalTableScan and there'd be no expression to assert on
    try Maintenance.append(spark, dir, (0 until 20).map(i =>
        (s"repo-${i % 3}", f"src/app/$i%03d.scala", f"$i%012d", "scala",
          s"object Fresh$i { val x = $i }"))
      .toDF("repo", "path", "commit", "lang", "content")
      .repartition(2))
    finally spark.listenerManager.unregister(listener)
    // listener events are delivered asynchronously
    def docstoreWrite = {
      import scala.jdk.CollectionConverters._
      plans.asScala.find(p =>
        p.contains("InsertIntoHadoopFsRelationCommand") &&
          p.contains(s"$dir/docstore"))
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (docstoreWrite.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    val plan = docstoreWrite.getOrElse(fail(
      s"no docstore write among ${plans.size} captured plans"))
    assert(plan.toLowerCase.contains("clusterassignlen"), plan.take(3000))
    assert(!plan.contains("UDF"), plan.take(3000))
  }

  test("manifest stamped with an old format version fails to open with a rebuild message") {
    import graft.query.IndexSearcher
    val dir = Files.createTempDirectory("graft-r5-version").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    val m = ManifestIO.read(s"$dir/manifest.json")
    assert(m.version == IndexBuilder.FormatVersion)
    // the last format before the version check (2): readers refuse it
    // instead of guessing defaults for what it lacks
    ManifestIO.write(s"$dir/manifest.json", m.copy(version = 2))
    val e = intercept[IllegalStateException] {
      IndexSearcher.topK(spark, dir, Seq(1 -> Seq("def", "return")), 5)
    }
    assert(e.getMessage.contains("format version 2"), e.getMessage)
    assert(e.getMessage.contains("rebuild the index"), e.getMessage)
    intercept[IllegalStateException] {
      Maintenance.append(spark, dir, spark.emptyDataFrame)
    }
  }

  test("DerivedFrameCache: identity hits, tag separation, bounded eviction unpersists") {
    import spark.implicits._
    import graft.ops.DerivedFrameCache
    val base = (1 to 10).toDF("x").repartition(2)
    var builds = 0
    def make() = { builds += 1; base.select(col("x") * 2 as "y") }
    val a = DerivedFrameCache(base, "t5-a")(make())
    val a2 = DerivedFrameCache(base, "t5-a")(make())
    assert(a eq a2) // identity hit, no rebuild
    assert(builds == 1)
    val b = DerivedFrameCache(base, "t5-b")(make())
    assert(!(b eq a)) // tags separate
    assert(builds == 2)
    a.count()
    assert(a.storageLevel.useMemory) // persisted
    // flood past the bound with fresh keys: the oldest entries evict
    // AND unpersist
    (1 to 32).foreach { i => // > bound (24 [ADVICE r5]) with margin
      val k = Seq(i).toDF("x")
      DerivedFrameCache(k, "t5-flood")(k.select(col("x") + 1 as "y"))
    }
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evicted entry must be unpersisted")
    // a miss after eviction rebuilds (no stale handle returned)
    val a3 = DerivedFrameCache(base, "t5-a")(make())
    assert(builds == 3 && !(a3 eq a))
  }

  test("DerivedValueCache: a build blocked on one key does not block lookups of another") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.ops.DerivedValueCache
    val keyA = new Object
    val keyB = new Object
    assert(DerivedValueCache(keyB, "t5-b")(7) == 7)
    val building = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = Future(DerivedValueCache(keyA, "t5-a") {
      building.countDown()
      release.await()
      1
    })
    try {
      assert(building.await(10, TimeUnit.SECONDS))
      val b = Future(DerivedValueCache[Int](keyB, "t5-b")(fail("B is cached")))
      assert(Await.result(b, 10.seconds) == 7)
    } finally release.countDown()
    assert(Await.result(a, 10.seconds) == 1)
    // A's value was inserted once its build finished
    assert(DerivedValueCache(keyA, "t5-a")(2) == 1)
  }

  test("EmbedCellAssignExpr bit-identical to the udf it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
    val centroids = Array.fill(5)(Array.fill(8)(rnd.nextGaussian()))
    val df = rows.toDF("vec_id", "e")
      .repartition(2) // keep ConvertToLocalRelation from folding the plan
      .withColumn("n",
        sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("cd",
        graft.functions.EmbedCellAssignExpr.col(col("e"), col("n"), centroids))
    val got = df.select("vec_id", "e", "n", "cd").collect()
    assert(got.length == 64)
    got.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val n = r.getDouble(2)
      val u = v.map(_ / math.max(n, 1e-300))
      val c = CoarseClusterer.argminDist(u, centroids)
      val d = math.sqrt(CoarseClusterer.distances(u, centroids)(c))
      val cd = r.getSeq[Double](3)
      assert(cd(0) == c.toDouble, s"cell mismatch on vec ${r.getLong(0)}")
      assert(cd(1) == d, s"dist mismatch on vec ${r.getLong(0)}")
    }
    // and the whole-frame plan carries the expression, not a udf
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("embedcellassign"), plan.take(1200))
    assert(!plan.contains("UDF"), plan.take(1200))
  }
}
