package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for embedding math. The higher-order-function
  * formulation (`aggregate(zip_with(...))`) has no codegen and allocates a
  * lambda frame per element; these expressions compile to a tight primitive
  * loop inside whole-stage codegen — ~50× faster on a 2M-pair × 64-dim
  * all-pairs cosine join, which is exactly the hot path of similarity search
  * and embedding dedup at scale.
  *
  * Both expect equal-length `array<double>` inputs (excess elements on
  * either side are ignored, matching `zip_with` prefix semantics with
  * non-null inputs).
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkDoubleArrays(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    // corrupt vector ⇒ NULL, not a wrong number
    if (CosineKernel.hasNullElement(x, y)) null else CosineKernel.cosine(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if (graft.functions.CosineKernel.hasNullElement($a, $b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.CosineKernel.cosine($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernels shared by [[CosineSimilarityExpr]]'s and
  * [[DotProductExpr]]'s interpreted eval and generated code. Every stage
  * that computes a cosine gets a generated class of its own; calling one
  * method the JIT has already compiled keeps the first run of a new plan
  * from spending its pair loop in a copy of the loop that is still
  * interpreted.
  */
object CosineKernel {
  /** True when either vector has a NULL element in the common prefix. */
  def hasNullElement(x: ArrayData, y: ArrayData): Boolean = {
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Cosine over the common prefix of two vectors without NULL elements. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Dot product over the common prefix of two vectors without NULL elements. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var i = 0
    while (i < n) { d += x.getDouble(i) * y.getDouble(i); i += 1 }
    d
  }
}

/** Plain dot product over `array<double>` — same codegen story as
  * [[CosineSimilarityExpr]]; used for centroid assignment where inputs are
  * pre-normalized and the norms would be wasted work.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkDoubleArrays(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (CosineKernel.hasNullElement(x, y)) null else CosineKernel.dot(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if (graft.functions.CosineKernel.hasNullElement($a, $b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.CosineKernel.dot($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Ids of the `k` nearest codebook centroids by dot product, descending —
  * the IVF assignment/probe kernel. One expression regardless of codebook
  * size: the codebook rides along as a codegen reference object and the
  * generated code is one call of [[TopCentroidsKernel]], so whole-stage
  * codegen never bails on method size (64 separate dot-product
  * expressions in an `array(struct(...))` did, falling back to interpreted
  * eval — ~50× slower corpus assignment).
  *
  * The codebook is held as `IndexedSeq`s (value equality) so two plans built
  * from equal codebooks are `semanticEquals` — `Array` fields compare by
  * reference and silently defeat subexpression elimination.
  */
case class TopCentroidsExpr(child: Expression, codebookSeq: IndexedSeq[IndexedSeq[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k >= 1 && k <= codebookSeq.length)

  @transient private lazy val codebook: Array[Array[Double]] =
    codebookSeq.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "top_centroids"

  override def nullSafeEval(input: Any): Any =
    TopCentroidsKernel.top(input.asInstanceOf[ArrayData], codebook, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", codebook, "double[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.TopCentroidsKernel.top($v, $cb, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static kernel shared by [[TopCentroidsExpr]]'s interpreted eval and
  * generated code: the ids of the `k` best centroids by dot product. The
  * ranking is score descending, ties to the lowest centroid id, and a NaN
  * score ranks last, so every id in the result is a real centroid. A NULL
  * vector element contributes nothing to the scores.
  */
object TopCentroidsKernel {
  def top(v: ArrayData, codebook: Array[Array[Double]], k: Int): ArrayData = {
    val sims = new Array[Double](codebook.length)
    var c = 0
    while (c < codebook.length) {
      val cv = codebook(c)
      val n = math.min(v.numElements(), cv.length)
      var d = 0.0; var i = 0
      while (i < n) { if (!v.isNullAt(i)) d += v.getDouble(i) * cv(i); i += 1 }
      sims(c) = d
      c += 1
    }
    // k selection passes; a later centroid replaces the pick only when it
    // is strictly better, which keeps ties on the lowest id
    val taken = new Array[Boolean](sims.length)
    val best = new Array[Int](k)
    var r = 0
    while (r < k) {
      var pos = -1
      c = 0
      while (c < sims.length) {
        if (!taken(c) && (pos < 0 || sims(c) > sims(pos) || (sims(pos).isNaN && !sims(c).isNaN)))
          pos = c
        c += 1
      }
      taken(pos) = true
      best(r) = pos
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(best)
  }
}

/** Static kernel shared by [[LshBucketsExpr]]'s interpreted eval and
  * generated code — one JIT-compiled call per row, eval/codegen
  * byte-identical.
  */
object LshKernel {
  /** Sign-bit bucket per hyperplane table: bucket(t) has bit p set iff
    * vec · planes(t*nPlanes + p) >= 0. Fails fast on a dimension mismatch —
    * a silently truncated dot product would collapse bucketing (and recall)
    * without any visible error.
    */
  def buckets(v: ArrayData, planes: Array[Array[Double]], nPlanes: Int): Array[Long] = {
    val dim = planes(0).length
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"lsh_buckets: vector length ${v.numElements()} != plane dimension $dim")
    val nTables = planes.length / nPlanes
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val pl = planes(t * nPlanes + p)
        var d = 0.0
        var i = 0
        while (i < dim) { d += v.getDouble(i) * pl(i); i += 1 }
        if (d >= 0) bucket |= 1L << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }
}

/** `lsh_buckets(vec)`: the hyperplane-LSH bucket id of `vec` in each of the
  * expression's plane tables, as `array<long>` (index = table). One
  * expression for all tables: the planes ride along as a codegen reference
  * object and the generated code is a tight triple loop — nTables × nPlanes
  * separate dot-product expressions blow past the janino method-size limit
  * and fall back to interpreted eval.
  *
  * Planes are held as `IndexedSeq`s (value equality) for the same
  * `semanticEquals` reason as [[TopCentroidsExpr]].
  */
case class LshBucketsExpr(child: Expression, planesSeq: IndexedSeq[IndexedSeq[Double]], nPlanes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 63, "nPlanes must be in [1, 63]")
  require(planesSeq.nonEmpty && planesSeq.length % nPlanes == 0,
    "planes length must be a positive multiple of nPlanes")

  @transient private lazy val planes: Array[Array[Double]] =
    planesSeq.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      LshKernel.buckets(input.asInstanceOf[ArrayData], planes, nPlanes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.LshKernel.buckets($v, $pl, $nPlanes));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static kernels for product quantization — shared by interpreted eval and
  * generated code (one JIT-compiled call per row).
  */
object PqKernel {
  /** Encode: L2-normalize the whole vector, then per subspace pick the
    * nearest codebook centroid by Euclidean distance (ties → lowest index).
    * Fails fast on a dimension mismatch — a silently mis-sliced subvector
    * would scramble codes (and recall) with no visible error.
    */
  def encode(v: ArrayData, codebooks: Array[Array[Array[Double]]]): Array[Int] = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    if (v.numElements() != m * sub) throw new IllegalArgumentException(
      s"pq_encode: vector length ${v.numElements()} != m*subdim = ${m * sub}")
    var nrm = 0.0
    var i = 0
    while (i < m * sub) { val x = v.getDouble(i); nrm += x * x; i += 1 }
    val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = v.getDouble(s * sub + j) * inv - cb(c)(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    out
  }

  /** Fail fast when a codes row doesn't match the LUT layout — codes built
    * with a different (m, kCent) or codebook would silently read wrong LUT
    * cells, or throw an opaque ArrayIndexOutOfBoundsException mid-query.
    * Mirrors [[encode]]'s dimension check: one comprehensible error naming
    * the operator, raised before any cell is read.
    */
  def checkCodes(codes: ArrayData, lutLen: Int, k: Int, name: String): Unit = {
    val m = codes.numElements()
    if (m * k != lutLen) throw new IllegalArgumentException(
      s"$name: $m codes do not match the LUT layout of ${lutLen / k} subspaces × $k centroids" +
        " — were the codes produced with a different (m, kCent) codebook?")
    var s = 0
    while (s < m) {
      val c = codes.getInt(s)
      if (c < 0 || c >= k) throw new IllegalArgumentException(
        s"$name: code $c at subspace $s out of range [0, $k)")
      s += 1
    }
  }

  /** Asymmetric-distance scores against every query's lookup table:
    * score(q) = Σ_s lut(q)(s*k + code(s)) — M adds per query per row, the
    * PQ scan kernel (the d·k work of building each LUT happened once per
    * query, driver-side).
    */
  def scores(codes: ArrayData, luts: Array[Array[Double]], k: Int): Array[Double] = {
    val m = codes.numElements()
    if (luts.length > 0) checkCodes(codes, luts(0).length, k, "pq_scores")
    val out = new Array[Double](luts.length)
    var q = 0
    while (q < luts.length) {
      val lut = luts(q)
      var sum = 0.0
      var s = 0
      while (s < m) { sum += lut(s * k + codes.getInt(s)); s += 1 }
      out(q) = sum
      q += 1
    }
    out
  }

  /** Single-query ADC score: the IVF-PQ scan kernel. After probe routing
    * each (corpus row, query) pair scores exactly one LUT — m adds — where
    * [[scores]] would compute all |Q| scores per row and discard all but
    * one.
    */
  def scoreAt(codes: ArrayData, lut: Array[Double], k: Int): Double = {
    checkCodes(codes, lut.length, k, "pq_score_at")
    val m = codes.numElements()
    var sum = 0.0
    var s = 0
    while (s < m) { sum += lut(s * k + codes.getInt(s)); s += 1 }
    sum
  }

  /** RESIDUAL encode — the faithful FAISS IVFPQ variant: L2-normalize the
    * vector, subtract its coarse centroid, and quantize the residual
    * per subspace. Residuals concentrate around the origin with far less
    * variance than raw vectors, so the same m×k codebook budget quantizes
    * finer; the matching ADC identity is
    * `⟨q, v⟩ ≈ ⟨q, c_cid⟩ + Σ_s ⟨q_s, cb_s(code_s)⟩`, with the constant
    * `⟨q, c_cid⟩` folded into each (query, centroid) LUT.
    */
  def encodeResidual(
      v: ArrayData,
      cid: Int,
      codebooks: Array[Array[Array[Double]]],
      centroids: Array[Array[Double]]): Array[Int] = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    if (v.numElements() != m * sub) throw new IllegalArgumentException(
      s"pq_encode_residual: vector length ${v.numElements()} != m*subdim = ${m * sub}")
    if (cid < 0 || cid >= centroids.length) throw new IllegalArgumentException(
      s"pq_encode_residual: centroid id $cid out of range [0, ${centroids.length})")
    val cent = centroids(cid)
    var nrm = 0.0
    var i = 0
    while (i < m * sub) { val x = v.getDouble(i); nrm += x * x; i += 1 }
    val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var d = 0.0
        var j = 0
        while (j < sub) {
          val idx = s * sub + j
          val diff = v.getDouble(idx) * inv - cent(idx) - cb(c)(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    out
  }
}

/** `pq_encode(vec)`: product-quantization codes (array<int>, one centroid
  * id per subspace) of an `array<double>` vector. Codebooks ride along as a
  * codegen reference object, like [[TopCentroidsExpr]]; held as
  * `IndexedSeq`s for `semanticEquals`.
  */
case class PqEncodeExpr(child: Expression, codebooksSeq: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(codebooksSeq.nonEmpty && codebooksSeq.forall(_.nonEmpty))

  @transient private lazy val codebooks: Array[Array[Array[Double]]] =
    codebooksSeq.map(_.map(_.toArray).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqKernel.encode(input.asInstanceOf[ArrayData], codebooks))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqKernel.encode($v, $cb));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_scores(codes)`: per-query asymmetric-distance scores
  * (array<double>, index = query position) from PQ codes and the queries'
  * precomputed lookup tables.
  */
case class PqScoresExpr(child: Expression, lutsSeq: IndexedSeq[IndexedSeq[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(lutsSeq.nonEmpty && k >= 1)

  @transient private lazy val luts: Array[Array[Double]] = lutsSeq.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<int> codes, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_scores"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqKernel.scores(input.asInstanceOf[ArrayData], luts, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lu = ctx.addReferenceObj("pqLuts", luts, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqKernel.scores($v, $lu, $k));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_encode_residual(vec, cid)`: residual PQ codes
  * ([[PqKernel.encodeResidual]]) — codebooks and coarse centroids ride
  * along as codegen reference objects, like [[PqEncodeExpr]].
  */
case class PqEncodeResidualExpr(
    left: Expression,
    right: Expression,
    codebooksSeq: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
    centroidsSeq: IndexedSeq[IndexedSeq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(codebooksSeq.nonEmpty && codebooksSeq.forall(_.nonEmpty) && centroidsSeq.nonEmpty)

  @transient private lazy val codebooks: Array[Array[Array[Double]]] =
    codebooksSeq.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val centroids: Array[Array[Double]] =
    centroidsSeq.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), org.apache.spark.sql.types.IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, int cid), got (${l.catalogString}, ${r.catalogString})")
  }
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode_residual"

  override def nullSafeEval(v: Any, cid: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqKernel.encodeResidual(v.asInstanceOf[ArrayData], cid.asInstanceOf[Int], codebooks, centroids))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqResidualCodebooks", codebooks, "double[][][]")
    val ce = ctx.addReferenceObj("pqCoarseCentroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, cid) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqKernel.encodeResidual($v, $cid, $cb, $ce));""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `pq_scores` with the LUTs on a Spark BROADCAST instead of embedded in
  * the plan: above ~1 MB of tables, per-task plan serialization would
  * re-ship the LUTs with every task, where a broadcast ships them once per
  * executor (torrent) and the expression carries only the handle. Same
  * kernel, same output as [[PqScoresExpr]].
  *
  * Broadcast lifetime: the handle lives exactly as long as the plan that
  * embeds this expression. Spark's ContextCleaner (reference tracking, on
  * by default) removes driver and executor copies once the caller drops the
  * returned DataFrame and the Broadcast object is GC'd, so repeated
  * `pqTopK`/`ivfPqTopK` calls in one session do not accumulate executor
  * memory indefinitely; a caller needing deterministic release can
  * `.destroy()` the broadcast after consuming the result. Equality is keyed
  * on the broadcast ID (Broadcast itself is reference-equal only) so
  * canonicalization / subexpression elimination dedupes logically identical
  * instances.
  */
case class PqScoresBcExpr(
    child: Expression,
    lutsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(k >= 1)

  override def equals(other: Any): Boolean = other match {
    case that: PqScoresBcExpr => that.child == child && that.lutsBc.id == lutsBc.id && that.k == k
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.lang.Long.valueOf(lutsBc.id), Integer.valueOf(k))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<int> codes, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_scores_bc"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqKernel.scores(input.asInstanceOf[ArrayData], lutsBc.value, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("pqLutsBc", lutsBc, "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqKernel.scores($v, (double[][]) $bc.value(), $k));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_score_at(codes, qpos)`: ONE query's ADC score from broadcast LUTs —
  * the post-routing IVF-PQ kernel. Probe routing already paired each corpus
  * row with the queries probing its centroid, so scoring computes exactly
  * the m adds that pair needs ([[PqKernel.scoreAt]]); computing all |Q|
  * scores per row ([[PqScoresExpr]]) is the UNROUTED corpus-wide design.
  */
case class PqScoreAtExpr(
    left: Expression,
    right: Expression,
    lutsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(k >= 1)

  // same broadcast-ID equality + ContextCleaner lifetime as PqScoresBcExpr
  override def equals(other: Any): Boolean = other match {
    case that: PqScoreAtExpr =>
      that.left == left && that.right == right && that.lutsBc.id == lutsBc.id && that.k == k
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(left, right, java.lang.Long.valueOf(lutsBc.id), Integer.valueOf(k))

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.IntegerType, _), org.apache.spark.sql.types.IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<int> codes, int qpos), got (${l.catalogString}, ${r.catalogString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_score_at"

  override def nullSafeEval(codes: Any, qpos: Any): Any = {
    val q = qpos.asInstanceOf[Int]
    val luts = lutsBc.value
    if (q < 0 || q >= luts.length) throw new IllegalArgumentException(
      s"$prettyName: query position $q out of range [0, ${luts.length})")
    PqKernel.scoreAt(codes.asInstanceOf[ArrayData], luts(q), k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("pqLutsBc", lutsBc, "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, (codes, qpos) =>
      s"""double[][] ${ev.value}_luts = (double[][]) $bc.value();
         |if ($qpos < 0 || $qpos >= ${ev.value}_luts.length) {
         |  throw new IllegalArgumentException("pq_score_at: query position " + $qpos +
         |    " out of range [0, " + ${ev.value}_luts.length + ")");
         |}
         |${ev.value} = graft.functions.PqKernel.scoreAt($codes, ${ev.value}_luts[$qpos], $k);""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column API over the native expressions. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarityExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Ids of the k nearest codebook rows by dot product, descending. */
  def topCentroids(v: Column, codebook: Array[Array[Double]], k: Int): Column =
    ColumnBridge.column(TopCentroidsExpr(ColumnBridge.expression(v),
      codebook.map(_.toIndexedSeq).toIndexedSeq, k))

  /** Per-table hyperplane-LSH bucket ids; `planes` is the concatenation of
    * all tables' planes, `nPlanes` per table.
    */
  def lshBuckets(v: Column, planes: IndexedSeq[IndexedSeq[Double]], nPlanes: Int): Column =
    ColumnBridge.column(LshBucketsExpr(ColumnBridge.expression(v), planes, nPlanes))

  /** PQ codes of a vector column (one centroid id per subspace). */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(v),
      codebooks.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))

  /** Residual PQ codes (FAISS IVFPQ): quantize `normalize(v) − cent[cid]`. */
  def pqEncodeResidual(
      v: Column,
      cid: Column,
      codebooks: Array[Array[Array[Double]]],
      centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(PqEncodeResidualExpr(ColumnBridge.expression(v),
      ColumnBridge.expression(cid),
      codebooks.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq,
      centroids.map(_.toIndexedSeq).toIndexedSeq))

  /** Per-query ADC scores from a PQ-code column; `k` = centroids per
    * subspace (each lut row is laid out [subspace × k]).
    */
  def pqScores(codes: Column, luts: Array[Array[Double]], k: Int): Column =
    ColumnBridge.column(PqScoresExpr(ColumnBridge.expression(codes),
      luts.map(_.toIndexedSeq).toIndexedSeq, k))

  /** [[pqScores]] with the LUTs on a broadcast (large query batches). */
  def pqScoresBc(
      codes: Column,
      lutsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      k: Int): Column =
    ColumnBridge.column(PqScoresBcExpr(ColumnBridge.expression(codes), lutsBc, k))

  /** One query's ADC score (post-routing IVF-PQ kernel): `qpos` indexes the
    * broadcast LUT table.
    */
  def pqScoreAt(
      codes: Column,
      qpos: Column,
      lutsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      k: Int): Column =
    ColumnBridge.column(PqScoreAtExpr(ColumnBridge.expression(codes),
      ColumnBridge.expression(qpos), lutsBc, k))

  private[functions] def checkDoubleArrays(
      name: String, left: Expression, right: Expression): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
}
