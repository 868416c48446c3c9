package graft

import org.apache.spark.sql.functions._

import graft.functions.Registry
import graft.ops.Dedup

/** Codegen dedup-signature Expressions ≡ their scalar twins — the parity
  * contract that lets the candidate plans run entirely inside
  * WholeStageCodegen (no encoder boundary).
  */
class DedupExprSpec extends SparkSpec {

  private val fuzz: Seq[String] = Seq(
    "", " ", "   ", "one", "one two three four five",
    "dup dup dup dup", "tabs\tstay intact", "mixed  double  spaces",
    "unicode ñandú 北京 emoji 😀 ok", "trailing space ",
    " leading", "a b", "x " * 200
  ) ++ (0 until 20).map { i =>
    val r = new java.util.Random(i)
    (0 until (1 + r.nextInt(30)))
      .map(_ => ("wordé" + r.nextInt(8)) * (1 + r.nextInt(2))).mkString(" ")
  }

  test("SimHash64 expression ≡ Dedup.simhash scalar (null → 0)") {
    import spark.implicits._
    Registry.ensure(spark)
    val df = fuzz.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .union(Seq((9999L, null.asInstanceOf[String])).toDF("id", "text"))
    val got = df.select($"id", Registry.simhash64($"text"))
      .as[(Long, Long)].collect().toMap
    fuzz.zipWithIndex.foreach { case (t, i) =>
      val want = Dedup.simhash(t.split(" ").filter(_.nonEmpty))
      assert(got(i.toLong) === want, s"text=<$t>")
    }
    assert(got(9999L) === 0L)
  }

  test("MinHashBands expression ≡ scalar signature + band fold") {
    import spark.implicits._
    Registry.ensure(spark)
    val p = Dedup.MinHashParams()
    val df = fuzz.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select($"id", Registry.minhashBands($"text", p))
      .as[(Long, Array[Long])].collect().toMap
    fuzz.zipWithIndex.foreach { case (t, i) =>
      val sig = Dedup.signature(t.split(" ").filter(_.nonEmpty), p)
      val want = (0 until p.bands).map { b =>
        var h = 1125899906842597L
        var r = 0
        while (r < p.rowsPerBand) { h = h * 31 + sig(b * p.rowsPerBand + r); r += 1 }
        h
      }
      assert(got(i.toLong).toSeq === want, s"text=<$t>")
    }
  }

  test("column shingle sets ≡ scalar wordShingles + xxhash64 (order-insensitive)") {
    import spark.implicits._
    val df = fuzz.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val ids = fuzz.indices.map(_.toLong)
    val cands = ids.map(i => (i, i)).toDF("id_a", "id_b") // touch every doc
    val got = Dedup.candidateShingleSets(df, cands, 3)
      .as[(Long, Array[Long])].collect().toMap
    fuzz.zipWithIndex.foreach { case (t, i) =>
      val want = Dedup.wordShingles(t.split(" ").filter(_.nonEmpty), 3)
        .map(graft.util.Hashing.xxhash64(_)).toSeq.distinct.sorted
      assert(got(i.toLong).toSeq.sorted === want, s"text=<$t>")
    }
  }

  test("LshKeys expression ≡ Similarity.lshKey scalar; cosinePair ≡ scalar cosine (bit-exact)") {
    import spark.implicits._
    Registry.ensure(spark)
    val dim = 12
    val bits = 8
    val tables = 4
    val seed = 11L
    val rng = new java.util.Random(5)
    val rows = (0 until 40).map(i => (i.toLong,
      Array.fill(dim)(rng.nextGaussian()))) :+ (99L, Array.fill(dim)(0.0))
    val df = rows.toDF("id", "v")
    val planes = graft.ops.Similarity.randomPlanes(tables * bits, dim, seed)
    val keys = df.select($"id", Registry.lshKeys($"v", bits, tables, seed, dim))
      .as[(Long, Array[Long])].collect().toMap
    rows.foreach { case (id, v) =>
      val want = (0 until tables).map(t => graft.ops.Similarity.lshKey(planes, v, t, bits))
      assert(keys(id).toSeq === want, s"id=$id")
    }
    // cosinePair: bit-exact vs the scalar, including the zero-norm case
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select($"a.id".as("ia"), $"b.id".as("ib"),
        graft.ops.Similarity.cosinePair($"a.v", $"b.v").as("c"))
      .as[(Long, Long, Double)].collect()
    val byId = rows.toMap
    pairs.foreach { case (ia, ib, c) =>
      assert(c === graft.ops.Similarity.cosine(byId(ia), byId(ib)),
        s"pair ($ia,$ib)")
    }
  }

  test("IvfCells expression ≡ scalar nearestCells routing (order + nulls loud)") {
    import spark.implicits._
    Registry.ensure(spark)
    val dim = 6
    val rng = new java.util.Random(3)
    val cents = Array.fill(5)(Array.fill(dim)(rng.nextGaussian()))
    val rows = (0 until 30).map(i => (i.toLong, Array.fill(dim)(rng.nextGaussian())))
    val got = rows.toDF("id", "v")
      .select($"id", Registry.ivfCell($"v", cents))
      .as[(Long, Int)].collect().toMap
    rows.foreach { case (id, v) =>
      val want = graft.functions.DedupSigImpl.nearestCells(v, cents, 1)(0)
      assert(got(id) === want, s"id=$id")
    }
    val e = intercept[Exception] {
      Seq((1L, null.asInstanceOf[Array[Double]])).toDF("id", "v")
        .select(Registry.ivfCell($"v", cents)).collect()
    }
    assert(e.getMessage.contains("null embedding"), e.getMessage)
    // a null ELEMENT would be read as 0.0 by toDoubleArray and silently
    // misroute the vector — must throw instead
    val e2 = intercept[Exception] {
      Seq((1L, Seq[java.lang.Double](1.0, null, 3.0))).toDF("id", "v")
        .select(Registry.ivfCell($"v".cast("array<double>"), cents)).collect()
    }
    assert(e2.getMessage.contains("null element"), e2.getMessage)
    // nprobe=1 fast path ≡ general path head
    rows.take(5).foreach { case (_, v) =>
      assert(graft.functions.DedupSigImpl.nearestCells(v, cents, 1).toSeq ===
        graft.functions.DedupSigImpl.nearestCells(v, cents, 3).toSeq.take(1))
    }
  }

  test("guards: dim-mismatch cosine and null embeddings fail loudly; binary text implicit-casts") {
    import spark.implicits._
    Registry.ensure(spark)
    // ragged pair → error, not a silent NULL dropped by threshold filters
    val ragged = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val e1 = intercept[Exception] {
      ragged.select(graft.ops.Similarity.cosinePair($"a", $"b")).collect()
    }
    assert(e1.getMessage.contains("dimensions differ"), e1.getMessage)
    // null embedding → error (a silent drop would desync keys/vectors)
    val withNull = Seq((1L, Array(1.0, 2.0)), (2L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      withNull.select(Registry.lshKeys($"embedding", 4, 2, 11L, 2)).collect()
    }
    assert(e2.getMessage.contains("null embedding"), e2.getMessage)
    // SQL null input to cosinePair stays null (no error)
    val nulls = Seq((Array(1.0), null.asInstanceOf[Array[Double]])).toDF("a", "b")
    assert(nulls.select(graft.ops.Similarity.cosinePair($"a", $"b"))
      .collect().head.isNullAt(0))
    // binary text column resolves via implicit cast (the typed path took
    // any atomic type) and matches the utf8-decoded scalar
    val bin = Seq((1L, "two words".getBytes("UTF-8"))).toDF("id", "html")
    val got = bin.select(Registry.simhash64($"html")).as[Long].head()
    assert(got === Dedup.simhash(Array("two", "words")))
  }

  test("q33/q34 candidate plans stay inside Catalyst (no encoder boundary)") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"text body number $i repeated token"))
      .toDF("doc_id", "text")
    val mh = Dedup.minHashCandidates(docs, Dedup.MinHashParams(), Dedup.DefaultMaxBucket)
    val sh = Dedup.simHashPairs(docs)
    for ((name, df) <- Seq("minhash" -> mh, "simhash" -> sh)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"),
        s"$name plan left codegen:\n${plan.take(800)}")
    }
  }
}
