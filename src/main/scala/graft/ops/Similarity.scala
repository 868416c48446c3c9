package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Hashing

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  *   - brute-force cosine top-k (the correctness baseline; pure Catalyst
  *     expressions — zip_with + aggregate — so the DuckDB oracle can
  *     restate it);
  *   - LSH-bucketed ANN (random hyperplanes; the 100 TB scale path —
  *     candidates come from one shuffle on the bucket key instead of a
  *     full cross product).
  */
object Similarity {

  /** Deterministic pseudo-random unit-ish hyperplanes (components in
    * [-1, 1) from splitmix64 — normalization is irrelevant for sign tests).
    */
  def randomPlanes(count: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(count) { p =>
      Array.tabulate(dim) { d =>
        val bits = Hashing.splitmix64(seed + p.toLong * 131071L + d)
        (bits.toDouble / Long.MaxValue.toDouble)
      }
    }

  /** Sign-bit LSH key of vector `v` for table `t`: bit b is set iff
    * v · planes(t*bits + b) >= 0. THE single definition of the key —
    * LshIndex build/probe, the one-shot lshTopK and embeddingNearDup all
    * call this, which is what keeps a materialized index candidate-
    * identical to the one-shot path (a drifted copy of this loop would
    * silently break index/query compatibility).
    */
  def lshKey(planes: Array[Array[Double]], v: Array[Double], t: Int, bits: Int): Long = {
    var key = 0L
    var b = 0
    while (b < bits) {
      if (dot(planes(t * bits + b), v) >= 0) key |= (1L << b)
      b += 1
    }
    key
  }

  /** Vector dimension probed from the FIRST `embedding` row: None on
    * an empty frame (callers return an empty result instead of throwing
    * `next on empty iterator`); a null first vector is an explicit error
    * — the signature expressions reject null embeddings anyway, so
    * surfacing it at the probe beats an NPE three operators later.
    */
  private[ops] def vecDim(df: DataFrame): Option[Int] = {
    val rows = df.select(size(col("embedding"))).limit(1).collect()
    if (rows.isEmpty) None
    else if (rows(0).isNullAt(0))
      throw new IllegalArgumentException(
        "cannot infer vector dimension: first 'embedding' value is null")
    else Some(rows(0).getInt(0))
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val d = dot(a, b)
    val na = math.sqrt(dot(a, a))
    val nb = math.sqrt(dot(b, b))
    if (na == 0 || nb == 0) 0.0 else d / (na * nb)
  }

  /** Column-level cosine between an embedding column and a literal query
    * vector, computed in double (left-to-right accumulation — matches the
    * DuckDB list-function evaluation order). Zero-norm vectors (either
    * side) yield 0.0 — the SAME guard as [[cosinePair]] and the scalar
    * [[cosine]]: without it a zero indexed vector produced 0/0 = NaN,
    * which sorts FIRST under `cosine DESC`, so probes ranked a zero
    * vector as the top neighbor.
    */
  def cosineToQuery(vec: Column, query: Array[Double]): Column = {
    val q = typedLit(query)
    val v = vec.cast("array<double>")
    val dotC = aggregate(zip_with(v, q, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val nv = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    val nqVal = math.sqrt(dot(query, query))
    if (nqVal == 0.0) when(v.isNotNull, lit(0.0)) // null vec stays null
    else when(nv === 0.0, lit(0.0)).otherwise(dotC / (nv * lit(nqVal)))
  }

  /** Column-level cosine between two vector columns (zip_with + aggregate
    * — codegen'd, no encoder boundary). Accumulation order matches the
    * scalar [[cosine]] exactly, so values are bit-identical (parity
    * spec'd); 0.0 when either norm is zero, like the scalar. A DIMENSION
    * MISMATCH raises an error: zip_with would otherwise null-pad the
    * shorter side and poison the aggregate to NULL, silently dropping the
    * pair from any ≥-threshold filter (the scalar threw, loudly — corrupt
    * or ragged embeddings must surface, not vanish). SQL null INPUTS stay
    * null; a null ELEMENT inside a vector also nulls the result (SQL
    * arithmetic semantics — unlike the strict index expressions, which
    * throw, because an index must stay consistent while a null-poisoned
    * similarity is recoverable by filtering cosine.isNull).
    */
  def cosinePair(a: Column, b: Column): Column = {
    val va = a.cast("array<double>")
    val vb = b.cast("array<double>")
    val d = aggregate(zip_with(va, vb, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(va, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(vb, lit(0.0), (acc, x) => acc + x * x))
    when(size(va) =!= size(vb),
        raise_error(format_string(
          "cosinePair: vector dimensions differ (%s vs %s)",
          size(va).cast("string"), size(vb).cast("string"))))
      .otherwise(when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb)))
  }

  /** Brute-force cosine top-k for one query vector over (vec_id,
    * embedding) rows: scan all rows, rank by rounded cosine
    * (round-then-rank keeps oracle ordering stable), take k.
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      query: Array[Double],
      k: Int = 10,
      excludeId: Option[Long] = None): DataFrame = {
    val base = excludeId.map(id => embeddings.filter(col("vec_id") =!= id))
      .getOrElse(embeddings)
    base.select(col("vec_id"),
        round(cosineToQuery(col("embedding"), query), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** ANN via hyperplane LSH: probe only the query's buckets across
    * `tables` hash tables, then exact-rank the candidate union. Recall vs
    * brute force is tested; at scale the bucketed scan touches
    * ~candidates/n of the data and the bucket table can be partitioned by
    * (table, key).
    *
    * `bits = Dedup.AutoBits` (0) sizes the key space from a corpus count
    * ([[Dedup.recommendedBits]]) — one extra narrow evaluation of the
    * embeddings plan, paid ONLY on the auto path. Explicit bits are the
    * caller's contract (no per-probe count: this is the per-query
    * one-shot path, and on it saturation degrades candidates toward the
    * whole corpus — a perf falloff, not the silent recall loss the
    * banded paths guard against).
    *
    * `bits`/`tables`/`seed` are settable because the plan and recall specs
    * pin this path against an index built with the same geometry.
    */
  def lshTopK(
      embeddings: DataFrame,
      query: Array[Double],
      k: Int = 10,
      bits: Int = 10,
      tables: Int = 8,
      seed: Long = 11L): DataFrame = {
    val spark = embeddings.sparkSession
    graft.functions.Registry.ensure(spark)
    val effBits =
      if (bits == Dedup.AutoBits) Dedup.recommendedBits(embeddings.count())
      else bits
    val dim = query.length
    val planes = randomPlanes(tables * effBits, dim, seed)
    val queryKeys = (0 until tables).map(t => lshKey(planes, query, t, effBits))
    // candidacy via the SAME codegen LshKeys expression the materialized
    // index uses — candidate-identity between one-shot and indexed probes
    // is structural, not a parallel-implementation promise. zip_with +
    // exists evaluates the key array once per row.
    val rowKeys = graft.functions.Registry.lshKeys(
      col("embedding").cast("array<double>"), effBits, tables, seed, dim)
    val hit = exists(
      zip_with(rowKeys, typedLit(queryKeys), (a, b) => a === b), x => x)
    embeddings
      .filter(hit)
      .select(col("vec_id").cast("long").as("vec_id"),
        round(cosineToQuery(col("embedding"), query), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }
}
