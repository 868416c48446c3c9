package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Dedup

/** Static entry points referenced from generated code (the codegen calls
  * one JVM method per row — no Row/encoder boundary, so the whole dedup
  * signature stage stays inside WholeStageCodegen instead of paying a
  * SerializeFromObject/DeserializeToObject pair around a typed map).
  */
object DedupSigImpl {

  /** 64-bit SimHash of the whitespace-token multiset; null/empty → 0L
    * (the empty-token vote vector signs to zero), matching the previous
    * typed path's `null → ""` contract.
    */
  def simhash(u: UTF8String): Long =
    if (u == null) 0L
    else Dedup.simhash(u.toString.split(" ").filter(_.nonEmpty))

  /** MinHash band hashes (the LSH bucket keys): signature → per-band
    * Horner fold, identical constants to the previous typed path.
    */
  def minhashBands(u: UTF8String, p: Dedup.MinHashParams): ArrayData = {
    val toks =
      (if (u == null) "" else u.toString).split(" ").filter(_.nonEmpty)
    val sig = Dedup.signature(toks, p)
    val out = new Array[Long](p.bands)
    var b = 0
    while (b < p.bands) {
      var h = 1125899906842597L
      var r = 0
      while (r < p.rowsPerBand) { h = h * 31 + sig(b * p.rowsPerBand + r); r += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** toDoubleArray with a null-element guard: ArrayData.toDoubleArray
    * reads a null slot as 0.0 (raw primitive copy), which would silently
    * corrupt a signature/cell routing — the exact desync the top-level
    * null guards exist to prevent. The former typed path's encoder threw
    * here; keep that contract.
    */
  def toDoublesStrict(v: ArrayData, fn: String): Array[Double] = {
    var i = 0
    val n = v.numElements()
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"$fn: null element at index $i in embedding - clean vectors first")
      i += 1
    }
    v.toDoubleArray()
  }

  /** Per-table sign-bit LSH keys of one vector (see [[LshKeys]]). */
  def lshKeys(v: ArrayData, planes: Array[Array[Double]],
      bits: Int, tables: Int): ArrayData = {
    val arr = toDoublesStrict(v, "lsh_keys")
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      out(t) = graft.ops.Similarity.lshKey(planes, arr, t, bits)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** The `nprobe` nearest IVF cells of one vector, ordered by (squared
    * distance, cell id) — THE single cell-routing definition: the
    * [[IvfCell]] expression behind `IvfIndex.build` (nprobe=1) and the
    * driver-side probe `IvfIndex.topK` both call it.
    */
  def nearestCells(v: Array[Double], centroids: Array[Array[Double]],
      nprobe: Int): Array[Int] =
    if (nprobe == 1) {
      // allocation-free argmin fast path — this is the full-corpus build
      // pass (and strict-< keeps the same first-minimal tie-break as the
      // sorted general path)
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val cen = centroids(c)
        var d = 0.0
        var j = 0
        while (j < v.length) { val t = v(j) - cen(j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      Array(best)
    } else
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0
        var j = 0
        while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy { case (d, i) => (d, i) }
        .take(nprobe).map(_._2)
}

/** `simhash64(text)` — codegen scalar for [[Dedup.simHashPairs]]'s
  * signature stage. null → 0L, non-nullable.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  // input-type contract lives in Registry.ensure: the builder wraps the
  // arg in Cast(StringType), so a binary textCol (which the previous
  // typed path accepted via Dataset upcast) resolves at ANALYSIS time
  // instead of failing in Janino/CCE at runtime
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    DedupSigImpl.simhash(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
        ${childGen.code}
        long ${ev.value} = graft.functions.DedupSigImpl.simhash(
          ${childGen.isNull} ? null : ${childGen.value});
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

/** `minhash_bands(text, numHashes, bands, shingleSize, seed)` — codegen
  * array of band bucket keys for [[Dedup.minHashCandidates]]. The params
  * ride the node (and the generated class, via a reference object); the
  * hash family is recomputed lazily from the seed on deserialization.
  * null text → the empty-document signature's bands, non-nullable.
  */
case class MinHashBands(
    child: Expression,
    numHashes: Int,
    bands: Int,
    shingleSize: Int,
    seed: Long) extends UnaryExpression {

  @transient private lazy val params =
    Dedup.MinHashParams(numHashes, bands, shingleSize, seed)

  // input cast contract: see Registry.ensure (Cast to StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    DedupSigImpl.minhashBands(child.eval(input).asInstanceOf[UTF8String], params)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val pRef = ctx.addReferenceObj("minhashParams", params,
      classOf[Dedup.MinHashParams].getName)
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.DedupSigImpl.minhashBands(
            ${childGen.isNull} ? null : ${childGen.value}, $pRef);
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)

  override def prettyName: String = "minhash_bands"
}

/** `lsh_keys(vec, bits, tables, seed, dim)` — the per-table sign-bit LSH
  * keys as a codegen array, THE same [[graft.ops.Similarity.lshKey]]
  * definition used by index build/probe (the hyperplanes ride the
  * generated class as a reference object, recomputed from the seed on
  * deserialization). null vector → ERROR (see the nullable note below).
  */
case class LshKeys(
    child: Expression,
    bits: Int,
    tables: Int,
    seed: Long,
    dim: Int) extends UnaryExpression {

  @transient private lazy val planes =
    graft.ops.Similarity.randomPlanes(tables * bits, dim, seed)

  // input cast contract: see Registry.ensure (Cast to array<double>)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // a NULL embedding must fail LOUDLY: silently dropping it from the keys
  // side (while build() keeps the row in the vectors side) would leave an
  // index whose vector is unreachable by every probe, and near-dup
  // candidacy would silently skip the doc — the previous typed path NPE'd
  // here, surfacing the bad data, and this keeps that contract
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    require(v != null, "lsh_keys: null embedding — filter null vectors before indexing")
    DedupSigImpl.lshKeys(v.asInstanceOf[ArrayData], planes, bits, tables)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val pRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
        ${childGen.code}
        if (${childGen.isNull}) {
          throw new IllegalArgumentException(
            "lsh_keys: null embedding - filter null vectors before indexing");
        }
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.DedupSigImpl.lshKeys(${childGen.value}, $pRef, $bits, $tables);
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshKeys =
    copy(child = newChild)

  override def prettyName: String = "lsh_keys"
}

/** `ivf_cell(vec, centroids)` — the build-side cell routing of
  * [[graft.ops.IvfIndex]]: the nearest cell id (ties to the lower id; the
  * centroid matrix rides the generated class as a reference object).
  * null vector → ERROR, same index-integrity contract as [[LshKeys]].
  */
case class IvfCell(
    child: Expression,
    centroids: Array[Array[Double]]) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    require(v != null, "ivf_cell: null embedding — filter null vectors before indexing")
    DedupSigImpl.nearestCells(
      DedupSigImpl.toDoublesStrict(v.asInstanceOf[ArrayData], "ivf_cell"), centroids, 1)(0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val cRef = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
        ${childGen.code}
        if (${childGen.isNull}) {
          throw new IllegalArgumentException(
            "ivf_cell: null embedding - filter null vectors before indexing");
        }
        int ${ev.value} = graft.functions.DedupSigImpl.nearestCells(
          graft.functions.DedupSigImpl.toDoublesStrict(${childGen.value}, "ivf_cell"),
          $cRef, 1)[0];
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  // case-class equality on Array is reference-based; centroids are part
  // of the node identity for plan equality — compare by content. Content
  // hashing is CACHED: canonicalization/subexpr-elimination hash nodes
  // repeatedly, and a production quantizer is cells×dim large. (At very
  // large cell counts a broadcast handle keyed by an id would beat
  // carrying the matrix on the node at all — documented tradeoff; the
  // shipped quantizers are tens of cells.)
  override def equals(o: Any): Boolean = o match {
    case other: IvfCell =>
      child == other.child &&
        centroids.length == other.centroids.length &&
        centroids.indices.forall(i =>
          java.util.Arrays.equals(centroids(i), other.centroids(i)))
    case _ => false
  }
  @transient private lazy val centroidHash =
    java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(centroidHash))

  override protected def withNewChildInternal(newChild: Expression): IvfCell =
    copy(child = newChild)

  override def prettyName: String = "ivf_cell"
}
