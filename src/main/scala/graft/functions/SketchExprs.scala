package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Mergeable-sketch expressions for the quantile/membership surface:
  *
  *  - `kll_sketch_agg(x[, k])`   — KLL quantile sketch over doubles
  *  - `kll_union_agg(sk[, k])`   — merge previously-built KLL sketches
  *  - `kll_quantile(sk, q)`      — estimate a quantile from a sketch
  *  - `bloom_might_contain(h, bloom)` — membership probe for BloomJoin
  *
  * The KLL trio is the quantile analogue of Spark's own
  * `hll_sketch_agg`/`hll_union_agg`/`hll_sketch_estimate` (which the HLL
  * matview path already uses): KLL sketches are fixed-size (k=200 ⇒
  * ~1.6 KB, rank error ~1.65%) and merge associatively, so per-(window,
  * key) percentiles can be maintained incrementally — "p99 latency per
  * hour, never rescanning history" — through the same bucket-bounded
  * merge as sums and HLL unions ([[graft.streaming.UpsertSink]]).
  *
  * Implemented as [[TypedImperativeAggregate]] (the buffer is the live
  * heap sketch, serialized only at shuffle/final boundaries), NOT as a
  * Scala `Aggregator` over `Array[Byte]` — a byte-buffer aggregator
  * would deserialize+reserialize the sketch once per input row.
  */
object SketchUtil {
  def heapify(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  def cmsRead(bytes: Array[Byte]): org.apache.spark.util.sketch.CountMinSketch =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))

  def cmsWrite(sk: org.apache.spark.util.sketch.CountMinSketch): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    sk.writeTo(bos)
    bos.toByteArray
  }
}

abstract class KllAggBase extends TypedImperativeAggregate[KllDoublesSketch]
    with UnaryLike[Expression] {
  def k: Int
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)
  override def merge(b: KllDoublesSketch, o: KllDoublesSketch): KllDoublesSketch = {
    b.merge(o); b
  }
  override def eval(b: KllDoublesSketch): Any = b.toByteArray
  override def serialize(b: KllDoublesSketch): Array[Byte] = b.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    SketchUtil.heapify(bytes)
}

/** Build a KLL doubles sketch from a DOUBLE column (nulls skipped). */
case class KllSketchAgg(child: Expression, k: Int = 200,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KllAggBase {
  override def prettyName: String = "kll_sketch_agg"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kll_sketch_agg requires a double argument, got ${child.dataType.simpleString}")
  override def update(b: KllDoublesSketch, row: InternalRow): KllDoublesSketch = {
    val v = child.eval(row)
    if (v != null) b.update(v.asInstanceOf[Double])
    b
  }
  override def withNewMutableAggBufferOffset(o: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KllSketchAgg =
    copy(child = c)
}

/** Merge BINARY KLL sketches (from [[KllSketchAgg]] or a prior union). */
case class KllUnionAgg(child: Expression, k: Int = 200,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KllAggBase {
  override def prettyName: String = "kll_union_agg"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kll_union_agg requires a binary (sketch) argument, got ${child.dataType.simpleString}")
  override def update(b: KllDoublesSketch, row: InternalRow): KllDoublesSketch = {
    val v = child.eval(row)
    if (v != null) b.merge(SketchUtil.heapify(v.asInstanceOf[Array[Byte]]))
    b
  }
  override def withNewMutableAggBufferOffset(o: Int): KllUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KllUnionAgg =
    copy(child = c)
}

/** Merge BINARY Count-Min sketches (from Spark's own
  * `count_min_sketch(x, eps, conf, seed)` aggregate) — the frequency
  * member of the mergeable-sketch family (sum / HLL distinct / KLL
  * quantile / CMS frequency), and the one Spark ships a builder for but
  * no merge. Sketches must share (eps, conf, seed) — `mergeInPlace`
  * throws on incompatible shapes rather than corrupting counts. The
  * buffer adopts the first sketch seen (its shape is unknown until
  * then); an all-null group yields NULL. */
case class CmsUnionAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[org.apache.spark.util.sketch.CountMinSketch]
    with UnaryLike[Expression] {
  import org.apache.spark.util.sketch.CountMinSketch

  override def prettyName: String = "cms_union_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_union_agg requires a binary (sketch) argument, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): CountMinSketch = null
  override def update(b: CountMinSketch, row: InternalRow): CountMinSketch = {
    val v = child.eval(row)
    if (v == null) b else {
      val sk = SketchUtil.cmsRead(v.asInstanceOf[Array[Byte]])
      if (b == null) sk else b.mergeInPlace(sk)
    }
  }
  override def merge(b: CountMinSketch, o: CountMinSketch): CountMinSketch =
    if (b == null) o else if (o == null) b else b.mergeInPlace(o)
  override def eval(b: CountMinSketch): Any =
    if (b == null) null else SketchUtil.cmsWrite(b)
  override def serialize(b: CountMinSketch): Array[Byte] =
    if (b == null) Array.emptyByteArray else SketchUtil.cmsWrite(b)
  override def deserialize(bytes: Array[Byte]): CountMinSketch =
    if (bytes.isEmpty) null else SketchUtil.cmsRead(bytes)
  override def withNewMutableAggBufferOffset(o: Int): CmsUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CmsUnionAgg =
    copy(child = c)
}

/** cms_estimate_long(sketch, key): estimated frequency of a LONG key.
  * Evaluated on post-agg rows (the candidate keys), so the per-row
  * deserialize is off the hot path. */
case class CmsEstimateLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "cms_estimate_long"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_estimate_long requires (binary, long), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(sk: Any, v: Any): Any =
    SketchUtil.cmsRead(sk.asInstanceOf[Array[Byte]])
      .estimateCount(java.lang.Long.valueOf(v.asInstanceOf[Long]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.freshName("cmsSketch")
    nullSafeCodeGen(ctx, ev, (sk, v) => s"""
      |org.apache.spark.util.sketch.CountMinSketch $s =
      |  graft.functions.SketchUtil.cmsRead($sk);
      |${ev.value} = $s.estimateCount(java.lang.Long.valueOf($v));""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** kll_quantile(sketch, q): the INCLUSIVE-rank quantile estimate; NULL
  * for an empty sketch (e.g. an all-null group). Evaluated on post-agg
  * rows (one per group), so the per-row heapify is off the hot path. */
case class KllQuantile(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "kll_quantile"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kll_quantile requires (binary, double), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(sk: Any, q: Any): Any = {
    val s = SketchUtil.heapify(sk.asInstanceOf[Array[Byte]])
    if (s.isEmpty) null
    else s.getQuantile(q.asInstanceOf[Double], QuantileSearchCriteria.INCLUSIVE)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // fresh local names: two kll_quantile calls can share one codegen
    // method (p50/p95/p99 off one sketch), where a fixed name collides
    val s = ctx.freshName("kllSketch")
    nullSafeCodeGen(ctx, ev, (sk, q) => s"""
      |org.apache.datasketches.kll.KllDoublesSketch $s =
      |  graft.functions.SketchUtil.heapify($sk);
      |if ($s.isEmpty()) { ${ev.isNull} = true; } else {
      |  ${ev.value} = $s.getQuantile($q,
      |    org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE);
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** bloom_might_contain(hash, bloomBytes): probe a serialized
  * `org.apache.spark.util.sketch.BloomFilter` with a LONG (xxhash64 of
  * the join key — the same value the build side put in). The filter
  * literal rides the plan once and deserializes ONCE per executor via
  * the transient lazy, not per row; stays inside whole-stage codegen. */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires a long probe, got ${left.dataType.simpleString}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain requires a foldable binary bloom-filter argument")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val bloom: BloomFilter = {
    val bytes = right.eval(null).asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(v: Any, ignored: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $ref.mightContainLong($v);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** [[BloomMightContain]] over a BROADCAST filter: same probe, but the
  * serialized filter travels as a Broadcast handle (bytes ship once per
  * executor over the broadcast channel) instead of a literal embedded in
  * the plan — a 10^7-key filter as `lit(bytes)` is megabytes that every
  * plan canonicalization, stringification and task closure re-carries.
  * The filter deserializes lazily on first probe (per task instance; the
  * underlying bytes exist once per executor). Not SQL-addressable — a
  * broadcast can't be a function argument — so [[graft.operators
  * .BloomJoin]] registers each instance under a unique session function
  * name at build time. */
case class BloomMightContainBc(child: Expression,
    bloomBc: org.apache.spark.broadcast.Broadcast[Array[Byte]])
    extends UnaryExpression {
  override def prettyName: String = "bloom_might_contain_bc"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain_bc requires a long probe, got ${child.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloomBc.value))

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the HANDLE, not the filter: deserialization happens on
    // the executor from the broadcast bytes, never on the driver, and
    // nothing filter-sized rides the serialized plan or task closure
    val bcRef = ctx.addReferenceObj("bloomBc", bloomBc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val bloomVar = ctx.addMutableState(classOf[BloomFilter].getName, "bloomFilter")
    nullSafeCodeGen(ctx, ev, v =>
      s"""if ($bloomVar == null) {
         |  $bloomVar = ${classOf[BloomFilter].getName}.readFrom(
         |    new java.io.ByteArrayInputStream((byte[]) $bcRef.value()));
         |}
         |${ev.value} = $bloomVar.mightContainLong($v);""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object SketchFunctions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val fns: Seq[(String, FunctionBuilder, String)] = Seq(
    ("kll_sketch_agg", (e: Seq[Expression]) => e match {
      case Seq(c) => KllSketchAgg(c)
      case Seq(c, k) => KllSketchAgg(c, intArg(k, "kll_sketch_agg k"))
      case _ => throw new IllegalArgumentException(
        s"kll_sketch_agg takes 1 or 2 arguments, got ${e.length}")
    }, "kll_sketch_agg(x[, k]) - KLL quantile sketch of a double column"),
    ("kll_union_agg", (e: Seq[Expression]) => e match {
      case Seq(c) => KllUnionAgg(c)
      case Seq(c, k) => KllUnionAgg(c, intArg(k, "kll_union_agg k"))
      case _ => throw new IllegalArgumentException(
        s"kll_union_agg takes 1 or 2 arguments, got ${e.length}")
    }, "kll_union_agg(sk[, k]) - merge binary KLL sketches"),
    ("kll_quantile", (e: Seq[Expression]) => KllQuantile(e(0), e(1)),
      "kll_quantile(sk, q) - quantile estimate from a KLL sketch"),
    ("cms_union_agg", (e: Seq[Expression]) => CmsUnionAgg(e(0)),
      "cms_union_agg(sk) - merge binary Count-Min sketches"),
    ("cms_estimate_long", (e: Seq[Expression]) => CmsEstimateLong(e(0), e(1)),
      "cms_estimate_long(sk, key) - estimated frequency of a long key"),
    ("bloom_might_contain", (e: Seq[Expression]) => BloomMightContain(e(0), e(1)),
      "bloom_might_contain(h, bloom) - BloomFilter membership probe"))
}
