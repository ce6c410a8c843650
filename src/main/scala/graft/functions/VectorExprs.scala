package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst vector expressions for the similarity-search surface
  * (SURVEY.md §2.11). Codegen'd tight loops over `ArrayData` — no
  * boxing, no UDF serialization, stays inside whole-stage codegen. At
  * 100 TB this is the hot inner loop of every ANN/near-dup query, which is
  * why these are Expressions rather than Scala UDFs (a UDF would
  * deserialize each Array[Float] into a boxed WrappedArray per row).
  *
  * Determinism contract (for the DuckDB oracle): each accumulator is a
  * strict left-to-right fold in double precision, bit-identical to
  * `list_reduce(list_transform(...), (a,b) -> a+b)` over the same values.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  // ExpectsInputTypes is off-limits outside org.apache.spark.sql
  // (AbstractDataType is private[sql] in Spark 4), so type-check by hand.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
}

/** dot(a, b) = sum_i a_i * b_i, sequential fold in double. */
case class VecDot(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |int n = Math.min($a.numElements(), $b.numElements());
      |double acc = 0.0;
      |for (int i = 0; i < n; i++) {
      |  acc += ((double) $a.getFloat(i)) * ((double) $b.getFloat(i));
      |}
      |${ev.value} = acc;
      |""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) = dot / (sqrt(dot_aa) * sqrt(dot_bb)); each of the three
  * sums is its own sequential left fold (matches the oracle formula).
  * Returns NaN when either norm is zero — same as the SQL formula (0/0).
  */
case class VecCosine(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |int n = Math.min($a.numElements(), $b.numElements());
      |double dot = 0.0, na = 0.0, nb = 0.0;
      |for (int i = 0; i < n; i++) {
      |  double xv = (double) $a.getFloat(i);
      |  double yv = (double) $b.getFloat(i);
      |  dot += xv * yv; na += xv * xv; nb += yv * yv;
      |}
      |${ev.value} = dot / (Math.sqrt(na) * Math.sqrt(nb));
      |""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** (name, builder, usage) triples, injected by [[graft.GraftExtensions]]. */
  val fns: Seq[(String, FunctionBuilder, String)] = Seq(
    ("vec_dot", (e: Seq[Expression]) => VecDot(e(0), e(1)),
      "vec_dot(a, b) - dot product of two float arrays, double precision"),
    ("vec_cosine", (e: Seq[Expression]) => VecCosine(e(0), e(1)),
      "vec_cosine(a, b) - cosine similarity of two float arrays"),
    ("simhash60", (e: Seq[Expression]) => SimHash60(e(0)),
      "simhash60(text) - 60-bit SimHash over whitespace tokens"),
    ("srp_sig16", (e: Seq[Expression]) => SrpSig16(e(0)),
      "srp_sig16(v) - 16-bit signed-random-projection LSH signature"),
    ("minhash_sig", (e: Seq[Expression]) => MinHashSig(e(0)),
      "minhash_sig(text) - 16-wide MinHash signature over word 3-shingles"),
    ("minhash_from_hashes", (e: Seq[Expression]) => MinHashFromHashes(e(0)),
      "minhash_from_hashes(hv) - 16-wide MinHash signature from hashed shingles"),
    ("norm_ws", (e: Seq[Expression]) => NormWs(e(0)),
      "norm_ws(text) - collapse whitespace, trim, lowercase (one pass)"),
    ("decode_numrefs", (e: Seq[Expression]) => DecodeNumRefs(e(0)),
      "decode_numrefs(text) - decode HTML numeric character references"),
    ("luhn_redact", (e: Seq[Expression]) => LuhnRedact(e(0)),
      "luhn_redact(text) - redact Luhn-valid 13-19 digit card runs"),
    ("iban_redact", (e: Seq[Expression]) => IbanRedact(e(0)),
      "iban_redact(text) - redact mod-97-valid IBAN runs (ISO 13616)"),
    ("unicode_norm", (e: Seq[Expression]) => UnicodeNorm(e(0), e(1)),
      "unicode_norm(text, form) - Unicode NFC/NFD/NFKC/NFKD normalization"),
    ("clean_gate", (e: Seq[Expression]) => CleanGate(e(0), e(1), e(2)),
      "clean_gate(text, lang, minq) - corpus-clean language+quality keep decision"),
    ("trigram_hits", (e: Seq[Expression]) => TrigramHits(e(0), e(1)),
      "trigram_hits(text, profile) - count of lower(text) char trigrams in profile"),
    ("shingle_hashes", (e: Seq[Expression]) => e match {
      case Seq(t) => new ShingleHashes(t)
      case Seq(t, k) => ShingleHashes(t, k)
      case _ => throw new IllegalArgumentException(
        s"shingle_hashes takes 1 or 2 arguments, got ${e.length}")
    }, "shingle_hashes(text[, k]) - distinct 60-bit md5 hashes of word k-shingles"))
}
