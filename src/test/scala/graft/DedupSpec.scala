package graft

import org.apache.spark.sql.functions._
import graft.functions.DedupSigImpl.nearestCells
import graft.ops.{Dedup, IvfIndex, LshIndex, Similarity}

/** Dedup + similarity operators: candidate-generation/verification shape
  * correctness at unit scale (the DuckDB oracle covers the SQL-expressible
  * variants at sf scale).
  */
class DedupSpec extends SparkSpec {

  private val base = ("spark engine builds distributed graphs " * 6).trim

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, base),
      (1L, base),                                       // exact dup of 0
      (2L, base.replaceFirst("graphs", "tables")),      // near dup of 0
      (3L, "completely different text about nothing relevant at all today"),
      (4L, "another unrelated document with its own vocabulary entirely")
    ).toDF("doc_id", "text")
  }

  /** The IVF probe restated in the spec: route `q` to its `nprobe` cells
    * under `probeCents`, keep the rows whose cell under `buildCents` is
    * one of them, and rank those by brute force.
    */
  private def routedTopK(rows: Seq[(Long, Array[Float])],
      buildCents: Array[Array[Double]], probeCents: Array[Array[Double]],
      q: Array[Double], k: Int, nprobe: Int): Seq[(Long, Double)] = {
    import spark.implicits._
    val cells = nearestCells(q, probeCents, nprobe).toSet
    val inCells = rows.filter { case (_, v) =>
      cells.contains(nearestCells(v.map(_.toDouble), buildCents, 1)(0))
    }
    Similarity.bruteForceTopK(inCells.toDF("vec_id", "embedding"), q, k)
      .as[(Long, Double)].collect().toSeq
  }

  test("exact dedup groups identical texts under min id") {
    import spark.implicits._
    val got = Dedup.exact(docs).as[(String, Long, Long)].collect()
      .map { case (_, canon, n) => (canon, n) }.toSet
    assert(got === Set((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH finds exact and near dups, not unrelated pairs") {
    import spark.implicits._
    // ONE execution of the pipeline; assert pair set and jaccard from it
    val rows = Dedup.minHashLsh(docs, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val got = rows.map(r => (r._1, r._2)).toSet
    assert(got.contains((0L, 1L)))
    assert(got.contains((0L, 2L)) && got.contains((1L, 2L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    // exact-dup pair has jaccard exactly 1.0
    assert(rows.find(r => r._1 == 0L && r._2 == 1L).get._3 === 1.0)
  }

  test("nearDupClusters: one canonical per near-dup cluster, singletons map to self") {
    import spark.implicits._
    val got = Dedup.nearDupClusters(docs, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L))
    // "keep one per cluster" view
    val kept = got.filter { case (d, c) => d == c }.keySet
    assert(kept === Set(0L, 3L, 4L))
  }

  test("simhash: identical docs at hamming 0; near dups within threshold") {
    import spark.implicits._
    val got = Dedup.simHashPairs(docs, maxHamming = 6)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0L, 1L)) === 0)
    assert(got.get((0L, 2L)).exists(_ <= 6))
    assert(!got.contains((3L, 4L)))
  }

  test("hot-bucket cap: 1000 identical docs emit O(d) star candidates, not d², and still one cluster") {
    import spark.implicits._
    // a megadup cluster (mirrors/boilerplate): every band bucket holds all
    // 1000 ids — uncapped, EACH band emits ~500k pairs; capped, each hot
    // bucket emits 999 star pairs to the min id and they dedup to 999
    val dup = (0L until 1000L).map(i => (i, base)).toDF("doc_id", "text")
    val nCand = Dedup.minHashCandidates(
      dup, Dedup.MinHashParams(), maxBucket = 50).count()
    assert(nCand === 999L, s"capped minhash candidates: $nCand")
    // the star graph keeps the cluster CONNECTED: one canonical id
    val clusters = Dedup.nearDupClusters(dup, threshold = 0.8, maxBucket = 50)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size === 1000 && clusters.values.toSet === Set(0L))
    // simhash: identical sims → hot buckets → star pairs, hamming 0
    val nSim = Dedup.simHashPairs(dup, maxHamming = 3, maxBucket = 50).count()
    assert(nSim === 999L, s"capped simhash pairs: $nSim")
    // embedding: 1000 identical vectors → star candidates only
    val vdup = (0L until 1000L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val nEmb = Dedup.embeddingCandidates(
      vdup, Dedup.EmbedBits, maxBucket = 50).count()
    assert(nEmb === 999L, s"capped embedding candidates: $nEmb")
  }

  test("capping invariant over random corpora: capped candidates ⊆ uncapped; capped clusters refine uncapped") {
    import spark.implicits._
    // star pairs are co-bucket pairs, so the capped candidate set is
    // always a SUBSET of the uncapped one — capping can only split
    // clusters (drop edges), never merge or invent them
    for (seed <- 1 to 4) {
      val rng = new java.util.Random(seed)
      val groups = 4 + rng.nextInt(3)
      val docsSeq = (0 until 30).map { i =>
        val g = rng.nextInt(groups)
        val body = s"group $g shared body text repeated for near duplication " * 3
        val tail = if (rng.nextBoolean()) "extra suffix token" else ""
        (i.toLong, s"$body$tail")
      }
      val df = docsSeq.toDF("doc_id", "text")
      val p = Dedup.MinHashParams()
      val capped = Dedup.minHashCandidates(df, p, maxBucket = 3)
        .as[(Long, Long)].collect().toSet
      val uncapped = Dedup.minHashCandidates(df, p, maxBucket = 100000)
        .as[(Long, Long)].collect().toSet
      assert(capped.subsetOf(uncapped), s"seed=$seed: capped ⊄ uncapped")
      val cc = Dedup.nearDupClusters(df, 0.8, p, maxBucket = 3)
        .as[(Long, Long)].collect().toMap
      val cu = Dedup.nearDupClusters(df, 0.8, p, maxBucket = 100000)
        .as[(Long, Long)].collect().toMap
      // refinement: two docs in one capped cluster share an uncapped one
      for ((a, ca) <- cc; (b, cb) <- cc if ca == cb)
        assert(cu(a) === cu(b), s"seed=$seed: capped cluster spans uncapped clusters")
    }
  }

  test("recommendedBits: key space scales with corpus so the cap stays a dup-only guard") {
    assert(Dedup.recommendedBits(500L) === 8)                 // floor
    assert(Dedup.recommendedBits(1000000L, 100) === 14)       // 10^6/2^14 ≈ 61
    assert(Dedup.recommendedBits(10000000000L, 100) === 27)   // 10^10 → 27 bits
    assert(Dedup.recommendedBits(0L) === 8)
    // at the recommended bits, expected occupancy ≤ target ≪ DefaultMaxBucket
    val n = 10000000000L
    val occ = n.toDouble / (1L << Dedup.recommendedBits(n, 100))
    assert(occ <= 100.0 && occ * 10 < Dedup.DefaultMaxBucket)
  }

  test("hot-bucket cap above the bucket size leaves candidates unchanged (full self-join)") {
    import spark.implicits._
    val dup = (0L until 30L).map(i => (i, base)).toDF("doc_id", "text")
    val full = Dedup.minHashCandidates(
      dup, Dedup.MinHashParams(), Dedup.DefaultMaxBucket).count()
    assert(full === 30L * 29L / 2L)
    // and the verified pairs are all jaccard 1.0 either way
    val pairs = Dedup.minHashLsh(dup, threshold = 0.9, maxBucket = 10)
    assert(pairs.count() === 29L) // star pairs, all verified at 1.0
  }

  test("simhash scalar: hamming(simhash(a), simhash(b)) small iff overlap high") {
    val a = Dedup.simhash(base.split(" "))
    val b = Dedup.simhash(base.replaceFirst("graphs", "tables").split(" "))
    val c = Dedup.simhash("totally disjoint token stream here".split(" "))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, a) === 0)
    assert(ham(a, b) < ham(a, c))
  }

  test("embedding near-dup: scaled copies (cosine 1) found, orthogonal not") {
    import spark.implicits._
    val dim = 8
    def unit(i: Int) = Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)
    val vecs = Seq(
      (0L, unit(0)), (1L, unit(0).map(_ * 2f)), // cosine 1
      (2L, unit(3)), (3L, Array.tabulate(dim)(j => (j + 1).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(df, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L)))
  }

  test("LSH ANN recall vs brute force ≥ 0.6 on a clustered corpus") {
    import spark.implicits._
    val dim = 16
    val rng = new java.util.Random(7)
    val q = Array.fill(dim)(rng.nextGaussian())
    // 30 near neighbors (q + small noise), 200 random distractors
    val rows = (0 until 30).map { i =>
      (i.toLong, q.map(v => (v + 0.1 * rng.nextGaussian()).toFloat))
    } ++ (30 until 230).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, q, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val ann = Similarity.lshTopK(df, q, k = 10, bits = 8, tables = 8)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall brute=$brute ann=$ann")
  }

  test("charShingleJaccard stop-shingle guard: one boilerplate shingle shared by 5000 docs does not explode") {
    import spark.implicits._
    // 5000 docs sharing the same boilerplate prefix: without the
    // max-df guard the prefix shingles alone produce ~5000² join rows
    // PER SHINGLE; with it they are dropped before the self-join.
    val boiler = "all rights reserved worldwide by the publisher "
    val docs = (0L until 5000L)
      .map { i =>
        // suffixes are random hex — no two docs share a low-df shingle
        val a = graft.util.Hashing.splitmix64(i).toHexString
        val b = graft.util.Hashing.splitmix64(i + 1000000L).toHexString
        (i, s"$boiler$a $b")
      }
      .toDF("doc_id", "text")
    val pairs = Dedup.charShingleJaccard(docs, threshold = 0.3, maxShingleDf = 100L)
    // suffixes are unique → after dropping boilerplate shingles no pair
    // reaches the threshold
    assert(pairs.count() === 0L)
    // boundedness as a DATA property, not a wall-clock bound (a clock
    // assert flakes under co-tenant load and proves nothing about the
    // plan): recompute the shingle space with the operator's own 12-gram
    // stride-4 contract and check the post-guard self-join size directly.
    // Unguarded, the boilerplate shingles alone contribute ~12 × C(5000,2)
    // ≈ 1.5e8 join rows; the guard must cut the total below a toy bound.
    val df = docs.select(explode_outer(expr(
        "transform(sequence(1, greatest(length(text) - 11, 1), 4), i -> substring(text, i, 12))")).as("sh"),
        $"doc_id").distinct()
      .groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" <= 100L) // the surviving (post-guard) shingle space
      .agg(sum(($"df" * ($"df" - 1) / 2).cast("long")).as("pairs"))
      .as[Long].head()
    assert(df < 100000L,
      s"post-guard self-join size $df — hot-shingle join not bounded")
  }

  test("charShingleJaccard: guard keeps exact Jaccard over the FILTERED shingle space") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaabbbbccccddddeeee"),
      (2L, "aaaabbbbccccddddffff"),
      (3L, "zzzzyyyyxxxxwwwwvvvv"))
      .toDF("doc_id", "text")
    val unguarded = Dedup.charShingleJaccard(docs, threshold = 0.1)
      .orderBy("id_a", "id_b").collect().toSeq
    val guardedHigh = Dedup.charShingleJaccard(docs, threshold = 0.1, maxShingleDf = 1000L)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(guardedHigh === unguarded) // cap above every df → identical
  }

  test("brute-force cosine matches driver-side math") {
    import spark.implicits._
    val q = Array(1.0, 0.0, 1.0)
    val df = Seq((0L, Array(1.0f, 0.0f, 1.0f)), (1L, Array(0.5f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, q, k = 2)
      .as[(Long, Double)].collect().toMap
    assert(got(0L) === 1.0)
    val want = Similarity.cosine(Array(0.5, 1.0, 0.0), q)
    assert(math.abs(got(1L) - math.rint(want * 10000) / 10000) <= 1e-4)
  }

  test("IVF ANN: recall vs brute force, and exact within the probed cells") {
    import spark.implicits._
    val dim = 16
    val rng = new java.util.Random(7)
    val q = Array.fill(dim)(rng.nextGaussian())
    val rows = (0 until 30).map { i =>
      (i.toLong, q.map(v => (v + 0.1 * rng.nextGaussian()).toFloat))
    } ++ (30 until 230).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cents = graft.ops.IvfIndex.train(df, graft.ops.IvfIndex.Params(cells = 8))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    graft.ops.IvfIndex.build(df, dir, cents)
    val brute = graft.ops.Similarity.bruteForceTopK(df, q, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = graft.ops.IvfIndex.topK(spark, dir, q, k = 10, nprobe = 3)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall")
    // with nprobe = cells the probe IS exhaustive -> equals brute force
    val full = graft.ops.IvfIndex.topK(spark, dir, q, k = 10,
      nprobe = cents.length).select("vec_id").as[Long].collect().toSet
    assert(full === brute)
    // probe plan prunes cell partitions
    val probe = graft.ops.IvfIndex.topK(spark, dir, q, k = 10, nprobe = 2)
    probe.collect()
    assert(probe.queryExecution.executedPlan.toString.contains("PartitionFilters:"))
  }

  test("IVF index records its quantizer: default probes use the build centroids") {
    import spark.implicits._
    val dim = 8
    val rng = new java.util.Random(23)
    val rows = (0 until 150).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val cents = graft.ops.IvfIndex.train(df, graft.ops.IvfIndex.Params(cells = 5))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfrec_").toString
    graft.ops.IvfIndex.build(df, dir, cents)
    val loaded = graft.ops.IvfIndex.loadCentroids(spark, dir)
    assert(loaded.map(_.toSeq).toSeq === cents.map(_.toSeq).toSeq)
    val q = rows(5)._2.map(_.toDouble)
    val recorded = graft.ops.IvfIndex.topK(spark, dir, q, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(recorded === routedTopK(rows, cents, cents, q, k = 5, nprobe = 2))
  }

  test("LSH geometry: rebuild refreshes AutoParams probes; missing _params errs loudly") {
    import spark.implicits._
    val dim = 6
    val rng = new java.util.Random(7)
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_lshgeo_").toString
    graft.ops.LshIndex.build(df, dir) // AutoParams
    val q = rows(3)._2.map(_.toDouble)
    // warm the probe-side params memo
    assert(graft.ops.LshIndex.topK(spark, dir, q, k = 3)
      .as[(Long, Double)].collect().head._1 === 3L)
    // rebuild with DIFFERENT explicit geometry: probes must resolve the
    // NEW recorded params, not the memoized old ones
    val p2 = graft.ops.LshIndex.Params(bits = 6, tables = 3, seed = 99L)
    graft.ops.LshIndex.build(df, dir, p2)
    assert(graft.ops.LshIndex.loadParams(spark, dir) === p2)
    val auto2 = graft.ops.LshIndex.topK(spark, dir, q, k = 3)
      .as[(Long, Double)].collect().toSeq
    val exp2 = Similarity.lshTopK(df, q, k = 3,
        bits = p2.bits, tables = p2.tables, seed = p2.seed)
      .as[(Long, Double)].collect().toSeq
    assert(auto2 === exp2)
    // a rebuild that crashes mid-way leaves NO _params (build deletes it
    // FIRST and rewrites it LAST, after both data writes): probes fail
    // loudly instead of guessing a geometry — either stale
    // direction (old params over new keys, new params over old keys) is
    // silent recall loss
    val pp = new org.apache.hadoop.fs.Path(s"$dir/_params")
    pp.getFileSystem(spark.sessionState.newHadoopConf()).delete(pp, true)
    val e = intercept[IllegalStateException] {
      graft.ops.LshIndex.topK(spark, dir, q, k = 3).collect()
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("IVF probes revalidate the quantizer memo by sidecar mtime (external rebuild)") {
    import spark.implicits._
    val dim = 8
    val rng = new java.util.Random(41)
    val rows = (0 until 120).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfstale_").toString
    val cents1 = graft.ops.IvfIndex.train(df, graft.ops.IvfIndex.Params(cells = 4))
    graft.ops.IvfIndex.build(df, dir, cents1)
    val q = rows(9)._2.map(_.toDouble)
    graft.ops.IvfIndex.topK(spark, dir, q, k = 3).collect() // warm the memo
    // simulate ANOTHER PROCESS retraining + rewriting the sidecar (the
    // in-process invalidation in build() cannot help here): the next
    // default probe must pick up the new quantizer via the mtime check,
    // not route with the memoized old centroids
    val cents2 = graft.ops.IvfIndex.train(df,
      graft.ops.IvfIndex.Params(cells = 7, seed = 999L))
    Thread.sleep(20) // distinct mtime tick on coarse-granularity filesystems
    cents2.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids")
    val recorded2 = graft.ops.IvfIndex.topK(spark, dir, q, k = 3, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(recorded2 === routedTopK(rows, cents1, cents2, q, k = 3, nprobe = 2),
      "probe served a stale memoized quantizer after an external rebuild")
  }

  test("the first probe after build loads no geometry through Spark (LSH and IVF)") {
    import spark.implicits._
    val dim = 8
    val rng = new java.util.Random(29)
    val rows = (0 until 120).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val q = rows(4)._2.map(_.toDouble)
    // build seeds the sidecar memo with the geometry it wrote, so the
    // first probe runs the same Spark jobs as a warm one
    def firstAndSecond(probe: () => org.apache.spark.sql.DataFrame) = {
      val first = sparkActivity(probe().collect())._1
      val second = sparkActivity(probe().collect())._1
      (first, second)
    }
    val lshDir = java.nio.file.Files.createTempDirectory("graft_lshseed_").toString
    LshIndex.build(df, lshDir, LshIndex.Params(bits = 4, tables = 3))
    val (lshFirst, lshSecond) = firstAndSecond(() => LshIndex.topK(spark, lshDir, q, k = 3))
    assert(lshFirst === lshSecond, "first LSH probe read _params through Spark")
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_ivfseed_").toString
    IvfIndex.build(df, ivfDir, IvfIndex.train(df, IvfIndex.Params(cells = 4)))
    val (ivfFirst, ivfSecond) =
      firstAndSecond(() => IvfIndex.topK(spark, ivfDir, q, k = 3, nprobe = 2))
    assert(ivfFirst === ivfSecond, "first IVF probe read _centroids through Spark")
  }

  test("invalid index and MinHash parameters fail naming the field, before any read") {
    val q = Array(1.0, 0.0)
    val bad: Seq[(String, () => Any)] = Seq(
      "bands" -> (() => Dedup.MinHashParams(bands = 0)),
      "numHashes" -> (() => Dedup.MinHashParams(numHashes = 10, bands = 4)),
      "numHashes" -> (() => Dedup.MinHashParams(numHashes = 0, bands = 4)),
      "shingleSize" -> (() => Dedup.MinHashParams(shingleSize = 0)),
      "n" -> (() => Dedup.recommendedBits(-1L)),
      "targetOccupancy" -> (() => Dedup.recommendedBits(10L, targetOccupancy = 0)),
      "cells" -> (() => IvfIndex.Params(cells = 0)),
      "tables" -> (() => LshIndex.Params(tables = 0)),
      "bits" -> (() => LshIndex.Params(bits = -1)),
      "bits" -> (() => LshIndex.Params(bits = 63)),
      // no index at this dir: the check runs before the sidecar read
      "nprobe" -> (() => IvfIndex.topK(spark, "/nonexistent/graft_ivf", q, nprobe = 0)))
    for ((field, mk) <- bad) {
      val e = intercept[IllegalArgumentException](mk())
      assert(e.getMessage.contains(s"$field must be"), e.getMessage)
    }
    // the build-time sentinel and the range ends stay valid
    assert(LshIndex.AutoParams.bits === Dedup.AutoBits)
    assert(LshIndex.Params(bits = 1).bits === 1 && LshIndex.Params(bits = 62).bits === 62)
  }

  test("IVF quantizer sample is unbiased under skewed file order") {
    import spark.implicits._
    // three well-separated clusters laid out CLUSTER-MAJOR in one
    // partition: a `limit(n)`-style sample with n ≤ cluster size would
    // train the quantizer on cluster 0 ONLY and recall collapses on the
    // rest (VERDICT r02 #4). The hash-ordered sample must see all three.
    val dim = 8
    val rng = new java.util.Random(11)
    def cluster(c: Int, n: Int, from: Int) = (0 until n).map { i =>
      val base = Array.tabulate(dim)(j => if (j == c) 10f else 0f)
      ((from + i).toLong, base.map(v => v + 0.05f * rng.nextGaussian().toFloat))
    }
    val rows = cluster(0, 200, 0) ++ cluster(1, 200, 200) ++ cluster(2, 200, 400)
    val df = rows.toDF("vec_id", "embedding").coalesce(1) // pin file order
    val cents = graft.ops.IvfIndex.train(df,
      graft.ops.IvfIndex.Params(cells = 3), sampleSize = 150) // < one cluster
    // every cluster center must be the nearest to SOME centroid — i.e.
    // the quantizer covered all three clusters, not just the first file's
    val centers = (0 until 3).map(c => Array.tabulate(dim)(j => if (j == c) 10.0 else 0.0))
    val assignedCells = centers.map(nearestCells(_, cents, 1)(0)).toSet
    assert(assignedCells.size === 3,
      s"quantizer collapsed clusters into cells $assignedCells — biased sample")
    // and the index remains probe-correct end to end
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfskew_").toString
    graft.ops.IvfIndex.build(df, dir, cents)
    val q = centers(2).clone()
    val brute = graft.ops.Similarity.bruteForceTopK(df, q, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val ivf = graft.ops.IvfIndex.topK(spark, dir, q, k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(brute.intersect(ivf).size.toDouble / brute.size >= 0.8)
  }

  test("ScalingBench dedup corpus: nearDupClusters recovers the by-construction structure") {
    import spark.implicits._
    val n = 4000L
    val docs = spark.range(n).as[Long]
      .map(id => (id, graft.ScalingBench.dedupDocText(id)))
      .toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, threshold = 0.7)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(clusters.count() === n) // one row per doc
      // per 8-doc group: 2 perturbed members fold into the base (±edge
      // effects where the boilerplate cluster hijacks a group member);
      // the %997 boilerplate docs fold into one cluster
      val folded = clusters.filter($"doc_id" =!= $"canonical_id").count()
      assert(folded >= 950 && folded <= 1050, s"folded=$folded")
      val boilerCanon = clusters.filter($"doc_id" % 997 === 0)
        .select($"canonical_id").distinct().count()
      assert(boilerCanon === 1L, "exact-dup boilerplate must collapse to ONE cluster")
      // unrelated members (3-7 of each group, %997 excluded) stay singletons
      val strays = clusters
        .filter($"doc_id" % 8 >= 3 && $"doc_id" % 997 =!= 0 &&
          $"doc_id" =!= $"canonical_id").count()
      assert(strays === 0L, s"$strays unrelated docs were folded")
    } finally clusters.unpersist(blocking = false)
  }

  test("key-space sizing is wired, not advisory: AutoBits derives from the corpus, undersized explicit bits trip the guard") {
    import spark.implicits._
    val dim = 4
    val rng = new java.util.Random(5)
    val rows = (0 until 120).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    // explicit bits small enough to saturate the key space → loud error
    // BEFORE any band join (VERDICT r04 #2: silent star-only recall)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(df, bits = 2, maxBucket = 10)
    }
    assert(e1.getMessage.contains("recommendedBits"))
    val big = (0 until 3000).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.LshIndex.build(big, "/tmp/never_written_lsh",
        graft.ops.LshIndex.Params(bits = 1))
    }
    assert(e2.getMessage.contains("recommendedBits"))
    // bits=63 would make 1L<<bits negative and silently DISARM the guard;
    // out-of-range bits are themselves rejected
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(df, bits = 63)
    }
    // an empty build must fail loudly, not write a probe-killing half-index
    val emptyE = intercept[IllegalArgumentException] {
      graft.ops.LshIndex.build(
        spark.emptyDataFrame.selectExpr("1L as vec_id", "array(1.0) as embedding"),
        "/tmp/never_written_lsh2")
    }
    assert(emptyE.getMessage.contains("empty"))
    // AutoBits: index records its derived geometry; probes use it
    val dir = java.nio.file.Files.createTempDirectory("graft_lshauto_").toString
    graft.ops.LshIndex.build(df, dir) // AutoParams default
    val recorded = graft.ops.LshIndex.loadParams(spark, dir)
    assert(recorded.bits === Dedup.recommendedBits(120L))
    val q = rows(3)._2.map(_.toDouble)
    val auto = graft.ops.LshIndex.topK(spark, dir, q, k = 5)
      .as[(Long, Double)].collect().toSeq
    val oneShot = Similarity.lshTopK(df, q, k = 5,
        bits = recorded.bits, tables = recorded.tables, seed = recorded.seed)
      .as[(Long, Double)].collect().toSeq
    assert(auto === oneShot)
    assert(auto.head._1 === 3L) // self is its own nearest neighbor
    // the near-dup AutoBits path still finds a scaled copy (cosine 1)
    val withCopy = (rows :+ (999L, rows(0)._2.map(v => v * 2f)))
      .toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDup(withCopy, threshold = 0.99, bits = Dedup.AutoBits)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(nd.contains((0L, 999L)))
  }

  test("empty embedding inputs: near-dup returns empty, null first vector errs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // ADVICE r04: the dim probe threw `next on empty iterator` here
    assert(Dedup.embeddingNearDup(empty).count() === 0L)
    // a null FIRST vector is a loud error, not an NPE
    val nullFirst = Seq((0L, null: Array[Float]), (1L, Array(1f, 2f, 3f, 4f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(nullFirst).count()
    }
    assert(e.getMessage.contains("null"))
  }

  test("zero-norm vectors score cosine 0.0 in single probes, never NaN") {
    import spark.implicits._
    // ADVICE r04: cosineToQuery produced 0/0 = NaN for a zero indexed
    // vector, which sorts FIRST under cosine DESC — probes ranked it top
    val dim = 4
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 0f, 0f, 0f)), // zero vector in the index
      (2L, Array(1f, 1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val brute = Similarity.bruteForceTopK(df, q, k = 4)
      .as[(Long, Double)].collect().toSeq
    assert(brute.head === ((0L, 1.0)))
    assert(brute.find(_._1 == 1L).get._2 === 0.0) // 0.0, not NaN-first
    // a probe through a materialized index containing the zero vector
    // scores every candidate as brute force does
    val p = graft.ops.LshIndex.Params(bits = 2, tables = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_lshzero_").toString
    graft.ops.LshIndex.build(df, dir, p)
    val single = graft.ops.LshIndex.topK(spark, dir, q, k = 4)
      .as[(Long, Double)].collect().toSeq
    assert(single.nonEmpty && single.forall(brute.contains))
    assert(!single.exists(_._2.isNaN))
  }
}
