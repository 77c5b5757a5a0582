package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

/** Vector primitives for the search operators (SURVEY.md §2.3, §2.12).
  *
  * The reference computes cosine similarity as the dot product of
  * L2-normalized vectors (`backend/app/services/vector/embedding_service.py:181-209`,
  * `normalize_embeddings=True` at `:124`). Here the hot path is a
  * codegen'd Catalyst `Expression` (stays inside whole-stage codegen;
  * no UDF serialization boundary), accumulating strictly
  * left-to-right in `double` — the same accumulation order DuckDB's
  * `list_inner_product(a::DOUBLE[], b::DOUBLE[])` uses, so oracle
  * comparisons are bit-exact.
  *
  * Scale note: a brute-force kNN scan is O(n·d) per query with zero
  * shuffle — the scan partitions evaluate the expression locally and
  * only top-k rows reach the driver (`TakeOrderedAndProject`). At
  * 100 TB the vectors table is partitioned by tenant (`owner_id`),
  * so partition pruning bounds each query to one tenant's shard.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product requires array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def elemGetter(t: DataType, arr: String, i: String): String =
    t match {
      case ArrayType(FloatType, _)  => s"(double)$arr.getFloat($i)"
      case ArrayType(DoubleType, _) => s"$arr.getDouble($i)"
      case _ => throw new IllegalStateException(s"unsupported $t")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val yf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xi * yi
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${elemGetter(left.dataType, a, i)} * ${elemGetter(right.dataType, b, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** PQ ADC (asymmetric distance computation) score: Σ_s lut(s)(code_s)
  * — the product-quantization scoring kernel
  * (`operators/ProductQuantization`) as a native codegen expression.
  * The lookup table is query-constant (m×ksub doubles), baked into the
  * generated code as a reference object, so the full-corpus code scan
  * stays inside whole-stage codegen with zero per-row boxing — the
  * preference order custom-Expression > UDF for the one expression
  * PQ evaluates 100%-of-corpus-rows times per query. Accumulates in
  * ascending subspace order, matching the oracle's
  * `list_reduce(list(sc ORDER BY s), +)` fold exactly. */
case class AdcScore(child: Expression, lut: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"adc_score requires array<int> or binary codes, got $t")
    }

  // codes/LUT arity must agree exactly: a silent min() truncation
  // would rank candidates on a subset of the subspaces when the wrong
  // codebooks are paired with an encoder — fail loudly instead.
  override def nullSafeEval(v: Any): Any = child.dataType match {
    case BinaryType =>
      // packed layout: one unsigned byte per subspace (ksub ≤ 256) —
      // 96 B/row literal, the cheapest possible parquet decode
      val codes = v.asInstanceOf[Array[Byte]]
      if (codes.length != lut.length) throw new IllegalArgumentException(
        s"adc_score: ${codes.length} codes vs ${lut.length}-subspace lut")
      var acc = 0.0
      var s = 0
      while (s < codes.length) { acc += lut(s)(codes(s) & 0xFF); s += 1 }
      acc
    case _ =>
      val codes = v.asInstanceOf[ArrayData]
      if (codes.numElements() != lut.length) throw new IllegalArgumentException(
        s"adc_score: ${codes.numElements()} codes vs ${lut.length}-subspace lut")
      var acc = 0.0
      var s = 0
      while (s < lut.length) { acc += lut(s)(codes.getInt(s)); s += 1 }
      acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val lutRef = ctx.addReferenceObj("adcLut", lut, "double[][]")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val (len, elem) = child.dataType match {
        case BinaryType => (s"$c.length", s"($c[$s] & 0xFF)")
        case _          => (s"$c.numElements()", s"$c.getInt($s)")
      }
      s"""
         |if ($len != $lutRef.length) {
         |  throw new IllegalArgumentException(
         |    "adc_score: " + $len + " codes vs " + $lutRef.length + "-subspace lut");
         |}
         |double $acc = 0.0;
         |for (int $s = 0; $s < $lutRef.length; $s++) {
         |  $acc += $lutRef[$s][$elem];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  // Case-class equals/hashCode on Array fields compare by reference, so
  // two semantically identical adc_score expressions would never be
  // equal — defeating Catalyst canonicalization / common-subexpression
  // reuse and giving identity hashCodes. Compare the LUT by value.
  override def equals(other: Any): Boolean = other match {
    case a: AdcScore =>
      child == a.child &&
        java.util.Arrays.deepEquals(
          lut.asInstanceOf[Array[AnyRef]], a.lut.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(lut.asInstanceOf[Array[AnyRef]])
}

/** L2-normalize an array<float|double> → array<double> (zero vector
  * stays zero, mirroring the reference's zero-vector fallback at
  * `embedding_service.py:114-115,129-130`). Interpreted eval only —
  * used in the (embed-bound) index pipeline, not the query hot path.
  */
case class L2Normalize(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val fl = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = x.numElements()
    val out = new Array[Double](n)
    var ss = 0.0
    var i = 0
    while (i < n) {
      val xi = if (fl) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = xi; ss += xi * xi; i += 1
    }
    if (ss > 0) {
      val inv = 1.0 / math.sqrt(ss)
      i = 0
      while (i < n) { out(i) *= inv; i += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VectorFunctions {
  /** Cosine similarity of two pre-normalized vectors == dot product. */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  def l2normalize(a: Column): Column =
    GraftBridge.column(L2Normalize(GraftBridge.expression(a)))

  /** PQ ADC score of a codes column against a query's lookup table. */
  def adcScore(codes: Column, lut: Array[Array[Double]]): Column =
    GraftBridge.column(AdcScore(GraftBridge.expression(codes), lut))

  /** array<long> sign-sketch words of an embedding column (bit p of
    * word ⌊p/64⌋ = sign of dot(emb, planes(p))) — one codegen pass. */
  def signSketch(emb: Column, planes: Array[Array[Double]]): Column =
    GraftBridge.column(SignSketchWords(GraftBridge.expression(emb), planes))

  /** Full cosine (un-normalized inputs): dot / (|a|·|b|), 0 on zero norm —
    * reference zero-norm guard `embedding_service.py:195-200`. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = F.sqrt(dot(a, a))
    val nb = F.sqrt(dot(b, b))
    F.when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb))
  }
}

/** Random-hyperplane (signed random projection) LSH for cosine
  * similarity — the classic SimHash-for-vectors family: bit p of a
  * vector's code is the sign of its projection onto hyperplane p.
  * Collision probability is 1 − θ/π per bit, so near-duplicate
  * vectors land in the same bucket and a query only scans the buckets
  * within a small Hamming radius of its own code.
  *
  * The hyperplanes are ±1-valued and derived from a fixed integer mix
  * (Knuth multiplicative hash of the flat index), so BOTH engines —
  * the Spark plan and the DuckDB oracle — reconstruct bit-identical
  * planes with no shared state. ±1 entries are exactly representable,
  * and the projection is a strictly left-to-right double accumulation
  * (same order as `DotProduct` codegen and DuckDB's
  * `list_inner_product`), so the sign — hence the code — is bit-exact
  * across engines.
  *
  * Scale posture: the corpus coding pass is map-only; bucketing is an
  * equi-filter/equi-join on the code. At 100 TB the code becomes a
  * partition column of the vector store — a query reads only its
  * multiprobe buckets' partitions. Used by `ann_rp_lsh` (Search) and
  * `dd_semdedup` (Dedup).
  */
/** Multi-plane sign sketch of an embedding in ONE codegen pass: bit p
  * of word ⌊p/64⌋ is the sign of dot(emb, planes(p)) — the 128-bit
  * Hamming sketch used by the dd_semdedup_sketch prefilter. The plane
  * matrix rides as a codegen reference object. The alternative —
  * stacking one `DotProduct` expression per plane — builds ~136 expression trees per row, which
  * falls out of whole-stage codegen's method budget (measured:
  * dd_semdedup_sketch's coding pass at sf0.1 was ~4× the exact leg's
  * whole cost before this expression existed). Per-plane accumulation
  * is strict left-to-right, identical to `DotProduct` and the
  * driver-side RpLsh fold, so sketch words are bit-stable across
  * eval, codegen, and driver replays. */
case class SignSketchWords(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_sketch requires array<float|double>, got $t")
    }

  private def nWords = (planes.length + 63) / 64

  override def nullSafeEval(v: Any): Any = {
    val e = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val fl = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    // copy to a primitive array ONCE: planes.length passes of
    // per-element ArrayData getters defeat JIT vectorization (the
    // expression measured SLOWER than the old Scala UDF before this)
    val vec: Array[Double] =
      if (fl) { val f = e.toFloatArray(); val d = new Array[Double](f.length)
        var i = 0; while (i < f.length) { d(i) = f(i); i += 1 }; d }
      else e.toDoubleArray()
    val out = new Array[Long](nWords)
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      val n = math.min(vec.length, pl.length)
      var acc = 0.0
      var j = 0
      while (j < n) { acc += vec(j) * pl(j); j += 1 }
      if (acc >= 0.0) out(p / 64) |= (1L << (p % 64))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val pRef = ctx.addReferenceObj("sketchPlanes", planes, "double[][]")
      val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
      val vec = ctx.freshName("vec")
      val fa = ctx.freshName("fa")
      val ii = ctx.freshName("ii")
      val w = ctx.freshName("w")
      val p = ctx.freshName("p")
      val pl = ctx.freshName("pl")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val toVec = if (isFloat)
        s"""float[] $fa = $a.toFloatArray();
           |double[] $vec = new double[$fa.length];
           |for (int $ii = 0; $ii < $fa.length; $ii++) $vec[$ii] = (double) $fa[$ii];""".stripMargin
      else
        s"double[] $vec = $a.toDoubleArray();"
      s"""
         |$toVec
         |long[] $w = new long[$nWords];
         |for (int $p = 0; $p < $pRef.length; $p++) {
         |  double[] $pl = $pRef[$p];
         |  int $n = java.lang.Math.min($vec.length, $pl.length);
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $acc += $vec[$j] * $pl[$j];
         |  }
         |  if ($acc >= 0.0) $w[$p / 64] |= (1L << ($p % 64));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($w);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // same array-field identity trap as AdcScore: compare planes by value
  // so canonicalization / subexpression reuse can see equal sketches
  override def equals(other: Any): Boolean = other match {
    case s: SignSketchWords =>
      child == s.child &&
        java.util.Arrays.deepEquals(
          planes.asInstanceOf[Array[AnyRef]], s.planes.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(planes.asInstanceOf[Array[AnyRef]])
}

class RpLsh(val NumPlanes: Int, val Dim: Int, val PlaneBase: Int = 0)
    extends Serializable {

  /** Plane p, component j: +1 when bit 16 of (flatIdx · 2654435761)
    * is clear, else −1 — deterministic, seed-free, engine-neutral.
    * `PlaneBase` offsets the flat index so a second instance (e.g. the
    * dd_semdedup_sketch 128-bit Hamming sketch) draws planes DISJOINT
    * from — hence uncorrelated with — the blocking instance's. */
  val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until NumPlanes).map { p =>
      (0 until Dim).map { j =>
        val i = ((p.toLong + PlaneBase) * Dim + j) * 2654435761L
        if (((i >> 16) & 1L) == 0L) 1.0 else -1.0
      }
    }

  /** Column: 8-bit bucket code of an embedding column. */
  def codeCol(emb: Column): Column =
    (0 until NumPlanes).map { p =>
      F.when(VectorFunctions.dot(emb, F.typedLit(planes(p))) >= 0.0, F.lit(1L << p))
        .otherwise(F.lit(0L))
    }.reduce(_ + _)

  /** Driver-side code of a collected query vector — the same strictly
    * sequential left-to-right accumulation as the codegen path. */
  def codeOf(v: Seq[Double]): Long =
    (0 until NumPlanes).map { p =>
      var acc = 0.0
      var j = 0
      while (j < math.min(v.length, Dim)) { acc += v(j) * planes(p)(j); j += 1 }
      if (acc >= 0.0) 1L << p else 0L
    }.sum

  /** All codes within Hamming distance `radius` of `code` (sorted). */
  def multiprobe(code: Long, radius: Int): Seq[Long] = {
    def flips(c: Long, r: Int, from: Int): Seq[Long] =
      if (r == 0) Seq(c)
      else c +: (from until NumPlanes).flatMap(p => flips(c ^ (1L << p), r - 1, p + 1))
    flips(code, radius, 0).distinct.sorted
  }

  /** DuckDB literal for plane p: `[1.0, -1.0, ...]::DOUBLE[]`. */
  def planeSql(p: Int): String =
    planes(p).map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]") + "::DOUBLE[]"

  /** DuckDB expression: the NumPlanes-bit code of `embExpr` (a
    * DOUBLE[] SQL expression) — mirrors `codeCol` bit for bit. */
  def codeSql(embExpr: String): String =
    (0 until NumPlanes).map { p =>
      s"(CASE WHEN list_inner_product($embExpr, ${planeSql(p)}) >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Compact generator form of plane p — the same integer math as
    * `planes`, rebuilt inside DuckDB instead of inlined as Dim
    * literals (at Dim=768 the literal form is ~40 KB of SQL). */
  def planeSqlGen(p: Int): String =
    s"list_transform(range(0, $Dim), j -> CASE WHEN " +
      s"((((${p.toLong + PlaneBase} * $Dim + j) * 2654435761) >> 16) & 1) = 0 " +
      "THEN 1.0 ELSE -1.0 END)"

  /** `codeSql` using the generator plane form (high-dim oracles). */
  def codeSqlGen(embExpr: String): String =
    (0 until NumPlanes).map { p =>
      s"(CASE WHEN list_inner_product($embExpr, ${planeSqlGen(p)}) >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
}

/** The 64-d / 8-plane instance every 64-d operator (ann_rp_lsh,
  * dd_semdedup, streaming dedup) shares. Plane count scales with
  * CORPUS size (buckets ≈ n / target-occupancy), not dimensionality —
  * d only raises the per-projection cost — so the 768-d parity family
  * uses `new RpLsh(10, 768)` (1,024 buckets) over the same corpus, not
  * more planes "because the vectors are wider". */
object RandomHyperplane extends RpLsh(8, 64)

/** Deterministic ±1 synthetic vectors of ANY dimensionality, for
  * reference-dimensionality (768-d, `embedding_service.py:17`) parity
  * checks. Component j of vector `id` is the bit-16 sign of
  * ((id·dim + j) · 2246822519) — a different multiplier than the
  * RP-LSH planes' 2654435761, so vectors are uncorrelated with the
  * planes (same multiplier would make vector p IDENTICAL to plane p).
  * Entries are ±1 exactly, so every dot product is an integer-valued
  * double: bit-exact in ANY accumulation order and across engines —
  * the whole 768-d kNN/LSH family gets hash-exact oracles, not
  * rows-only ones. Norm is the constant √dim, so dot ranking ==
  * cosine ranking. Overflow contract: callers must keep
  * id·dim + dim < 2⁶³ / 2246822519 ≈ 4.105e9 (id ≲ 5.3e6 at dim=768)
  * — beyond that the JVM wraps silently while DuckDB BIGINT raises,
  * breaking the cross-engine parity this fixture exists for. */
object SyntheticVec {
  import org.apache.spark.sql.functions._

  /** Spark column: the dim-d vector of integral column `id`. */
  def vecCol(id: Column, dim: Int): Column =
    transform(sequence(lit(0L), lit(dim - 1L)), j =>
      when(shiftright((id * lit(dim.toLong) + j) * lit(2246822519L), 16)
        .bitwiseAND(lit(1L)) === 0L, lit(1.0)).otherwise(lit(-1.0)))

  /** Driver-side vector of `id` (same math as `vecCol`). */
  def vecLocal(id: Long, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      if ((((id * dim + j) * 2246822519L >> 16) & 1L) == 0L) 1.0 else -1.0
    }

  /** DuckDB expression: the dim-d vector of BIGINT expression `idExpr`. */
  def vecSql(idExpr: String, dim: Int): String =
    s"list_transform(range(0, $dim), j -> CASE WHEN " +
      s"(((($idExpr * $dim + j) * 2246822519) >> 16) & 1) = 0 " +
      "THEN 1.0 ELSE -1.0 END)"
}

/** An `Embedder` BOTH engines can evaluate: id = the first 6 hex
  * digits of md5(text) (the shared ascii-arithmetic hex parse), vector
  * = `SyntheticVec(id)`. Unlike `HashEmbedder` (JVM MurmurHash — not
  * SQL-expressible), every produced vector is reconstructible inside
  * DuckDB from the text alone, so a pipeline that chunks, embeds and
  * SEARCHES can sit under a hash-exact oracle end-to-end (x7). The
  * max 6-hex-digit id is 0xFFFFFF = 16777215, so
  * (id·dim + j)·2246822519 stays below 2⁶³−1 only for dim ≤ 244
  * (16777215·245·2246822519 ≈ 9.24e18 overflows; the JVM would wrap
  * silently while DuckDB BIGINT errors — exactly the cross-engine
  * divergence this class exists to prevent), hence the require. Not a
  * semantic embedding — a parity fixture for plan/fusion math. */
final class SyntheticEmbedder(val dim: Int = 64) extends Embedder {
  require(dim <= 240,
    s"SyntheticEmbedder dim=$dim: (id*dim+j)*2246822519 overflows int64 " +
      "past dim~244 for 6-hex-digit ids; use SyntheticVec with small ids " +
      "directly for wider parity vectors")
  def embed(text: String): Array[Double] = {
    if (text == null || text.isEmpty) return new Array[Double](dim)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    SyntheticVec.vecLocal(java.lang.Long.parseLong(md.substring(0, 6), 16), dim)
  }
}
