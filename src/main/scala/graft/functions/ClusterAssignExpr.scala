package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.cluster.{CoarseClusterer, Distance}

/** Fused content → hashed-term-count features → (coarse cluster
  * assignment, doc length) as ONE codegen expression — the docstore
  * write's hottest per-row path.
  *
  * The r2 form materialized a `feat` array COLUMN and fed it to a Scala
  * udf: every row paid an Array→Seq wrap plus 64 boxed Longs through
  * CatalystTypeConverters, prime G1 pressure on exactly the stage whose
  * 4-thread core-time inflation caps the scaling ratio (BASELINE.md).
  * Here the feature buffer is ONE long[64] per generated class, reused
  * across rows; hashes are computed over the UTF8String bytes in place
  * (byte-wise Murmur3 identical to the char-wise form for ASCII;
  * non-ASCII rows fall back to the reference tokenizer — the same
  * contract as TokenCountExpr / CoarseClusterer.featuresOf, and the
  * features property-test covers both).
  *
  * The result is packed as `(cluster_id << 32) | token_count` in one
  * Long: the token count is the sum of the hashed-term-count buckets
  * (every token increments exactly one bucket — including the non-ASCII
  * fallback), so the docstore write's map side tokenizes each doc ONCE
  * where it previously ran this scan AND TokenCountExpr separately.
  * Unpack with `shiftright(_, 32)` / `bitwiseAND(0xffffffff)`;
  * CollapseProject does not inline non-cheap expressions into multiple
  * references, so the packed column is evaluated once.
  */
case class ClusterAssignLenExpr(
    child: Expression,
    centroids: Array[Array[Double]],
    dist: Distance) extends UnaryExpression {

  override def dataType: DataType = LongType

  @transient private lazy val buf = new Array[Long](CoarseClusterer.Dim)

  override def nullSafeEval(input: Any): Any =
    ClusterAssignExpr.assignLenInto(
      input.asInstanceOf[UTF8String], buf, centroids, dist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val dRef = ctx.addReferenceObj("dist", dist, classOf[Distance].getName)
    val bufTerm = ctx.addMutableState("long[]", "featBuf",
      v => s"$v = new long[${CoarseClusterer.Dim}];")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ClusterAssignExpr.assignLenInto(" +
        s"$c, $bufTerm, $cRef, $dRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): ClusterAssignLenExpr =
    copy(child = newChild)
}

object ClusterAssignExpr {

  /** ASCII fast path: one byte scan, zero allocation. Returns false on
    * any non-ASCII byte (caller falls back; buf content then undefined).
    */
  def featuresInto(s: UTF8String, buf: Array[Long]): Boolean = {
    val n = s.numBytes()
    java.util.Arrays.fill(buf, 0L)
    var i = 0
    var start = -1
    while (i <= n) {
      val b: Byte = if (i < n) s.getByte(i) else ' '.toByte
      if (b < 0) return false
      val isTok = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9') || b == '_'
      if (isTok) { if (start < 0) start = i }
      else if (start >= 0) {
        val h = spanHashBytes(s, start, i, CoarseClusterer.HashSeed)
        buf(java.lang.Math.floorMod(h, CoarseClusterer.Dim)) += 1L
        start = -1
      }
      i += 1
    }
    true
  }

  /** Byte-wise twin of CoarseClusterer.spanHash: for ASCII, char(i) ==
    * byte(i), so mixing lowercased byte pairs reproduces
    * MurmurHash3.stringHash exactly (bit-identical centroids/goldens).
    */
  private def spanHashBytes(s: UTF8String, start: Int, end: Int, seed: Int): Int = {
    import scala.util.hashing.MurmurHash3.{finalizeHash, mix, mixLast}
    @inline def lc(b: Byte): Int =
      if (b >= 'A' && b <= 'Z') b + 32 else b.toInt
    var h = seed
    var i = start
    while (i + 1 < end) {
      val data = (lc(s.getByte(i)) << 16) + lc(s.getByte(i + 1))
      h = mix(h, data)
      i += 2
    }
    if (i < end) h = mixLast(h, lc(s.getByte(i)))
    finalizeHash(h, end - start)
  }

  /** Features + argmin + token count in one scan (see
    * [[ClusterAssignLenExpr]]); the cluster equals
    * `CoarseClusterer.assign(CoarseClusterer.featuresOf(s.toString), …)`
    * and the count `Tokenizer.countTokens` exactly (property-tested).
    */
  def assignLenInto(s: UTF8String, buf: Array[Long],
      centroids: Array[Array[Double]], dist: Distance): Long = {
    val ok = featuresInto(s, buf)
    val feat =
      if (ok) buf
      else CoarseClusterer.featuresOf(s.toString)
    var len = 0L
    var i = 0
    while (i < feat.length) { len += feat(i); i += 1 }
    (CoarseClusterer.assign(feat, centroids, dist).toLong << 32) | len
  }

  /** Column form: the packed (cluster_id, doc_len) Long. */
  def clusterIdAndLen(content: Column, centroids: Array[Array[Double]],
      dist: Distance): Column =
    GraftColumnBridge.column(ClusterAssignLenExpr(
      GraftColumnBridge.expression(content), centroids, dist))
}
