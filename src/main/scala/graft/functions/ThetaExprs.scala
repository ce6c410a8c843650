package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV ("k minimum values" / theta) distinct-count sketch.
  *
  * `kmv_agg(h[, k])` keeps the k SMALLEST DISTINCT values of a uniform
  * 60-bit hash column (longs in [0, 2^60), from the shared md5-derived
  * `h60raw` family) and returns them as a sorted `array<bigint>`. The
  * k-smallest-distinct set is a bounded semilattice: merging per-group
  * sketches gives EXACTLY the sketch of the union (not an approximation
  * of it), so the aggregate is safe under any partial-aggregation /
  * shuffle plan Spark picks, and per-partition matview sketches union
  * losslessly — the set-operation member of the engine's mergeable
  * family (sum / HLL / KLL / CMS / KMV).
  *
  * Unlike HLL, a KMV sketch supports SET ALGEBRA after aggregation:
  * with theta = the k-th smallest hash of the UNION sketch, every
  * distinct-count identity works sample-wise —
  *   |A|        ≈ (k-1) * 2^60 / a[k-1]           (classic KMV estimator)
  *   |A ∪ B|    ≈ (k-1) * 2^60 / union_k[k-1]
  *   |A ∩ B|    ≈ |{h ∈ union_k : h ∈ A ∧ h ∈ B}| / k * |A ∪ B|
  * all computable with plain array functions over the returned arrays
  * (see queries/Curation.scala) — no re-scan of the data. Because the
  * hash is deterministic (no seed), the whole pipeline is reproducible
  * bit-for-bit and the DuckDB oracle hash-matches it cell-for-cell, a
  * stronger check than the rows-only gate the HLL/CMS estimators get.
  *
  * State is a bounded `java.util.TreeSet` (≤ k longs, k=256 default ⇒
  * ≤ 2 KB); relative standard error ≈ 1/sqrt(k-2) ≈ 6.3%. Nulls are
  * skipped; a group with fewer than k distinct hashes returns them all
  * (the estimator is then exact).
  */
object ThetaExprs {

  final class KmvBuffer(val k: Int) {
    val set = new java.util.TreeSet[java.lang.Long]()
    def insert(v: Long): Unit = {
      if (set.size < k) { set.add(v); () }
      else if (v < set.last) {
        if (set.add(v)) { set.pollLast(); () }
      }
    }
    def mergeIn(o: KmvBuffer): Unit = {
      val it = o.set.iterator()
      while (it.hasNext) insert(it.next())
    }
  }

  /** Shared KmvBuffer lifecycle for the two KMV aggregates — the
    * serialization format (k header + sorted longs) and the semilattice
    * merge must never diverge between build and union. */
  abstract class KmvAggBase extends TypedImperativeAggregate[KmvBuffer]
      with UnaryLike[Expression] {
    def k: Int
    // NOTE: the k >= 2 require lives in each case class, NOT here — a
    // base-class constructor check would read the abstract `k` before
    // the subclass constructor assigns it (0 during Java
    // deserialization on executors) and fail every task

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)
    override def merge(b: KmvBuffer, o: KmvBuffer): KmvBuffer = { b.mergeIn(o); b }
    override def eval(b: KmvBuffer): Any = {
      val out = new Array[Long](b.set.size)
      val it = b.set.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }
    override def serialize(b: KmvBuffer): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.set.size)
      bb.putInt(b.k)
      val it = b.set.iterator()
      while (it.hasNext) bb.putLong(it.next())
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): KmvBuffer = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val b = new KmvBuffer(bb.getInt)
      while (bb.remaining() >= 8) b.insert(bb.getLong)
      b
    }
  }

  case class KmvAgg(child: Expression, k: Int = 256,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends KmvAggBase {
    require(k >= 2, s"kmv_agg needs k >= 2, got $k")
    override def prettyName: String = "kmv_agg"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"kmv_agg requires a bigint (hash) argument, got ${child.dataType.simpleString}")
    override def update(b: KmvBuffer, row: InternalRow): KmvBuffer = {
      val v = child.eval(row)
      if (v != null) b.insert(v.asInstanceOf[Long])
      b
    }
    override def withNewMutableAggBufferOffset(o: Int): KmvAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): KmvAgg =
      copy(child = c)
  }

  /** Merge previously-built KMV sketches (`array<bigint>` columns from
    * [[KmvAgg]] or a prior union) — k-smallest-distinct is an exact
    * semilattice, so a union of sketches IS the sketch of the union
    * (bit-identical, not approximately), making the matview maintenance
    * path ([[graft.streaming.UpsertSink.mergeThetaBatch]]) idempotent
    * and order-independent like HLL, with set algebra on top. */
  case class KmvUnionAgg(child: Expression, k: Int = 256,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends KmvAggBase {
    require(k >= 2, s"kmv_union_agg needs k >= 2, got $k")
    override def prettyName: String = "kmv_union_agg"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_union_agg requires an array<bigint> (sketch) argument, got ${other.simpleString}")
    }
    override def update(b: KmvBuffer, row: InternalRow): KmvBuffer = {
      val v = child.eval(row)
      if (v != null) {
        val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        var i = 0
        while (i < arr.numElements()) { b.insert(arr.getLong(i)); i += 1 }
      }
      b
    }
    override def withNewMutableAggBufferOffset(o: Int): KmvUnionAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvUnionAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): KmvUnionAgg =
      copy(child = c)
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val fns: Seq[(String, FunctionBuilder, String)] = Seq(
    ("kmv_agg", (e: Seq[Expression]) => e match {
      case Seq(c) => KmvAgg(c)
      case Seq(c, k) => KmvAgg(c, intArg(k, "kmv_agg k"))
      case _ => throw new IllegalArgumentException(
        s"kmv_agg takes 1 or 2 arguments, got ${e.length}")
    }, "kmv_agg(h[, k]) - k smallest distinct 60-bit hashes (theta sketch)"),
    ("kmv_union_agg", (e: Seq[Expression]) => e match {
      case Seq(c) => KmvUnionAgg(c)
      case Seq(c, k) => KmvUnionAgg(c, intArg(k, "kmv_union_agg k"))
      case _ => throw new IllegalArgumentException(
        s"kmv_union_agg takes 1 or 2 arguments, got ${e.length}")
    }, "kmv_union_agg(sk[, k]) - merge array<bigint> KMV sketches"))
}
