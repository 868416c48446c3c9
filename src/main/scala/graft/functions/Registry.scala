package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Registration of the engine's custom Catalyst expressions so they are
  * usable both from SQL and from the Column API (via `call_function`,
  * which is stable across Spark 4's Column internals).
  */
object Registry {
  // registration is PER SESSION (the function registry lives in session
  // state) — track sessions weakly so a stopped session can be collected
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def ensure(spark: SparkSession): Unit =
    if (registered.get(spark) == null) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "html_to_text", exprs => HtmlToText(exprs.head), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "clean_text_fast", exprs => CleanText(exprs.head), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "simhash64", exprs => SimHash64(castTo(exprs.head,
          org.apache.spark.sql.types.StringType)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "minhash_bands", exprs => MinHashBands(
          castTo(exprs.head, org.apache.spark.sql.types.StringType),
          litInt(exprs(1)), litInt(exprs(2)), litInt(exprs(3)), litLong(exprs(4))),
        "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "lsh_keys", exprs => LshKeys(castTo(exprs.head,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
          litInt(exprs(1)), litInt(exprs(2)), litLong(exprs(3)), litInt(exprs(4))),
        "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "ivf_cell", exprs => IvfCell(castTo(exprs.head,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
          litMatrix(exprs(1))),
        "scala_udf")
      registered.put(spark, java.lang.Boolean.TRUE)
    }

  /** Analysis-time input contract for the signature expressions: cast the
    * argument to the expected type (binary text upcasts like the former
    * typed path did) instead of failing at runtime in generated code; a
    * genuinely un-castable input fails analysis, loudly. No-op when the
    * type already matches.
    */
  private def castTo(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    if (e.dataType == t) e
    else org.apache.spark.sql.catalyst.expressions.Cast(e, t)

  private def litMatrix(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Array[Array[Double]] = {
    require(e.foldable, s"ivf_cell centroids must be a literal matrix, got $e")
    // cast first so a SQL call with an int-literal matrix resolves instead
    // of dying in an opaque ClassCastException at eval
    val casted = castTo(e, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    val v = casted.eval()
    require(v != null, "ivf_cell: centroids literal must not be NULL")
    val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(ad.numElements()) { i =>
      require(!ad.isNullAt(i), s"ivf_cell: centroid row $i is NULL")
      ad.getArray(i).toDoubleArray()
    }
  }

  private def litInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    require(e.foldable, s"signature-function parameters must be literals, got $e")
    e.eval().asInstanceOf[Number].intValue()
  }
  private def litLong(e: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    require(e.foldable, s"signature-function parameters must be literals, got $e")
    e.eval().asInstanceOf[Number].longValue()
  }

  /** html (binary or string) -> extracted text. Requires ensure(spark). */
  def htmlToText(c: Column): Column = call_function("html_to_text", c)

  /** Single-pass clean_text (codegen Expression) — byte-identical to
    * [[Text.cleanText]]'s regex chain, ~3× less allocation on the hot
    * path. Requires ensure(spark).
    */
  def cleanTextFast(c: Column): Column = call_function("clean_text_fast", c)

  /** 64-bit SimHash (codegen Expression ≡ `Dedup.simhash` over
    * whitespace tokens). Requires ensure(spark).
    */
  def simhash64(c: Column): Column = call_function("simhash64", c)

  /** MinHash band bucket keys (codegen Expression ≡ signature + band
    * fold of `Dedup.minHashCandidates`). Requires ensure(spark).
    */
  def minhashBands(c: Column, p: graft.ops.Dedup.MinHashParams): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("minhash_bands", c,
      lit(p.numHashes), lit(p.bands), lit(p.shingleSize), lit(p.seed))
  }

  /** Per-table sign-bit LSH keys (codegen Expression ≡
    * `Similarity.lshKey` over the same plane family). Requires
    * ensure(spark).
    */
  def lshKeys(c: Column, bits: Int, tables: Int, seed: Long, dim: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("lsh_keys", c, lit(bits), lit(tables), lit(seed), lit(dim))
  }

  /** The nearest IVF cell id, ties to the lower id (codegen Expression ≡
    * `DedupSigImpl.nearestCells(v, centroids, 1)(0)`). Requires
    * ensure(spark).
    */
  def ivfCell(c: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.functions.typedlit
    call_function("ivf_cell", c, typedlit(centroids.map(_.toSeq).toSeq))
  }
}
