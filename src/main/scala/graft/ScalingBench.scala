package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.fixtures.PageGen
import graft.ner.FixtureGazetteer
import graft.pipeline.{EntityStore, KgPipeline, TripleStore}
import graft.schema.Pred

/** The north rule's two-cluster-size evidence, sandbox protocol
  * (BASELINE.md): run the IDENTICAL full KG pipeline job on the IDENTICAL
  * staged input at two local parallelism levels (local[8] vs local[32] =
  * N vs 4N cores) and report throughput at both plus scaling efficiency =
  * (thr_4N / thr_N) / 4.
  *
  * The run mode times one production batch ([[runPipeline]]: the fused
  * pass, the entity merge, sameAs and the commit into fresh stores;
  * protocol v2 in BASELINE.md).
  *
  * Each level MUST run in a fresh JVM (separate `runMain` invocation): a
  * shared JVM leaks JIT/GC/heap state from one level into the next and
  * corrupts the comparison (measured: the second level ran 1.6× slower
  * than the same level in a clean JVM). Protocol:
  *
  * {{{
  * sbt "runMain graft.ScalingBench stage /tmp/pages 1000000"
  * sbt "runMain graft.ScalingBench run /tmp/pages 8"    # N
  * sbt "runMain graft.ScalingBench run /tmp/pages 32"   # 4N
  * }}}
  *
  * DEDUP MODE (VERDICT r04 next #3 — the LLM-pipeline core's own N→4N
  * evidence): `stage-dedup` writes a seeded corpus with known near-dup
  * structure — per 8-doc group, one base + two ~2-word perturbations
  * (shingle Jaccard ≈ 0.8) + five unrelated docs, plus one corpus-wide
  * EXACT-duplicate boilerplate cluster (~docs/997 members, larger than
  * the hot-bucket cap, so the star path + connected components are in
  * the measured plan); `run-dedup` times `Dedup.nearDupClusters` over it:
  *
  * {{{
  * sbt "runMain graft.ScalingBench stage-dedup /tmp/docs 2000000"
  * sbt "runMain graft.ScalingBench run-dedup /tmp/docs 2"   # N
  * sbt "runMain graft.ScalingBench run-dedup /tmp/docs 8"   # 4N
  * }}}
  *
  * Run EXCLUSIVELY — co-located load invalidates the numbers.
  */
object ScalingBench {

  /** Shuffle/spill dir, and the root of [[runPipeline]]'s stores, on
    * tmpfs: a production executor writes shuffle and store files to
    * node-local NVMe that scales WITH the executor count; this VM's one
    * shared block device does not, so it would impose a false serial
    * floor on the N-vs-4N comparison. RAM-backed local dirs model the
    * per-node-storage property the protocol needs.
    */
  private val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft_local")

  private def session(cores: Int): SparkSession = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // 3 shuffle partitions per core: multiple waves load-balance the
      // stage tail (a single wave leaves cores idle behind stragglers)
      .config("spark.sql.shuffle.partitions", cores * 3)
      // finer input splits (default 128 MB → 22 splits on the 2.2 GB
      // staged input = 2.75 ragged waves at 8 cores): ~32 MB splits give
      // every level enough waves to smooth the stage tail
      .config("spark.sql.files.maxPartitionBytes", 32 * 1024 * 1024)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One production batch over the staged pages: [[KgPipeline
    * .runIncremental]] with the fixture aliases into a FRESH TripleStore
    * and EntityStore under [[localDir]], deleted when the call returns.
    * Fresh per call because the warm-up's PageGen pages share their urls
    * with the staged input: a reused store would skip them as processed.
    * Returns the committed triples without the `processedIn` markers,
    * whose count comes from the manifests (no data read).
    */
  private[graft] def runPipeline(spark: SparkSession, inputDir: String): Long = {
    val trie = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val params = spark.sparkContext.broadcast(SparkEntry.fixtureModel)
    import spark.implicits._
    val aliases = FixtureGazetteer.aliasPairs.toDF("norm_a", "norm_b", "entity_type")
    val dir = Files.createDirectories(java.nio.file.Paths.get(localDir))
    val root = Files.createTempDirectory(dir, "graft_scaling_store_")
    try {
      val store = new TripleStore(root.resolve("triples").toString, spark)
      val n = KgPipeline.runIncremental(store, "run", spark.read.parquet(inputDir),
        trie, params, KgPipeline.Config(),
        Some(new EntityStore(root.resolve("entities").toString, spark)), Some(aliases))
      n - store.predRowCount(Pred.Processed)
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile)
  }

  /** Deterministic dedup-corpus text for doc `id` — pure function of the
    * id (no RNG state), so the staged corpus is reproducible and the
    * expected cluster structure is known by construction.
    */
  private[graft] def dedupDocText(id: Long): String = {
    import graft.util.Hashing.splitmix64
    if (id % 997 == 0) {
      // corpus-wide EXACT-duplicate boilerplate cluster (~docs/997
      // members): bigger than Dedup.DefaultMaxBucket at ≥1M docs, so the
      // hot-bucket star cap is part of the measured plan
      Array.tabulate(40)(i =>
        "boiler" + math.floorMod(splitmix64(424242L + i), 1000)).mkString(" ")
    } else {
      val group = id / 8
      val member = id % 8
      // members 0-2 share the group's base text; 1 and 2 perturb two
      // words each (≈6 of ~58 3-shingles change → Jaccard ≈ 0.8)
      val docSeed = if (member < 3) group * 131L + 7L else id * 977L + 13L
      val words = Array.tabulate(60)(i =>
        "w" + math.floorMod(splitmix64(docSeed * 1000003L + i), 5000))
      if (member == 1L || member == 2L) {
        val p1 = math.floorMod(splitmix64(id * 31L + 1L), 60L).toInt
        var p2 = math.floorMod(splitmix64(id * 31L + 2L), 60L).toInt
        if (p2 == p1) p2 = (p2 + 17) % 60
        words(p1) = "x" + math.floorMod(splitmix64(id * 31L + 3L), 5000)
        words(p2) = "x" + math.floorMod(splitmix64(id * 31L + 4L), 5000)
      }
      words.mkString(" ")
    }
  }

  private def runDedup(spark: SparkSession, dir: String): (Long, Long) = {
    import spark.implicits._
    val docs = spark.read.parquet(dir)
    val clusters = graft.ops.Dedup.nearDupClusters(docs, threshold = 0.7)
    // one materialization evaluates every output row; the observation
    // rides the same job (rows + how many docs were folded into another)
    val obs = new org.apache.spark.sql.Observation()
    import org.apache.spark.sql.functions._
    clusters.observe(obs, count(lit(1)).as("n"),
        sum(when($"doc_id" =!= $"canonical_id", 1L).otherwise(0L)).as("dups"))
      .write.format("noop").mode("overwrite").save()
    (obs.get("n").asInstanceOf[Long], obs.get("dups").asInstanceOf[Long])
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "stage" :: dir :: pages :: Nil =>
      val n = pages.toLong
      val s = session(32)
      PageGen.pages(s, n).toDF()
        .repartition(128) // enough splits for the widest level
        .write.mode("overwrite").parquet(dir)
      println(s"""{"staged":"$dir","pages":$n}""")
      s.stop()

    case "stage-dedup" :: dir :: docs :: Nil =>
      val n = docs.toLong
      val s = session(32)
      import s.implicits._
      s.range(n).as[Long]
        .map(id => (id, dedupDocText(id)))
        .toDF("doc_id", "text")
        .repartition(128)
        .write.mode("overwrite").parquet(dir)
      println(s"""{"staged":"$dir","docs":$n,"mode":"dedup"}""")
      s.stop()

    case "run-dedup" :: dir :: cores :: Nil =>
      val c = cores.toInt
      val s = session(c)
      graft.bench.StageMetrics.install(s.sparkContext)
      // untimed warm-up: JIT + codegen over the same operator shapes
      val warm = Files.createTempDirectory("graft_scaling_dwarm_").toString
      import s.implicits._
      s.range(2000L).as[Long].map(id => (id, dedupDocText(id)))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(warm)
      runDedup(s, warm)
      val nDocs = s.read.parquet(dir).count()
      // steal sampled over the RUN's own window (bracketing probes in the
      // session script miss mid-run bursts — round-5 pair 2 read 0.694
      // with 0.00 probes on both sides)
      val j0 = graft.bench.Steal.jiffies()
      val t0 = System.nanoTime()
      val (rows, dups) = runDedup(s, dir)
      val sec = (System.nanoTime() - t0) / 1e9
      val st = graft.bench.Steal.avgCores(j0, graft.bench.Steal.jiffies(), sec)
      println(f"""{"level":"local[$c]","mode":"dedup","cores":$c,"seconds":$sec%.2f,"docs":$nDocs,"cluster_rows":$rows,"folded_dups":$dups,"docs_per_sec":${nDocs / sec}%.1f,"steal_cores":$st}""")
      s.stop()

    case "run" :: dir :: cores :: Nil =>
      val c = cores.toInt
      SparkEntry.fixtureModel // train the frozen artifact before timing
      val s = session(c)
      graft.bench.StageMetrics.install(s.sparkContext)
      // untimed warm-up at small scale: JIT, codegen, parquet reader init
      val warm = Files.createTempDirectory("graft_scaling_warm_").toString
      PageGen.pages(s, 2000L).toDF().write.mode("overwrite").parquet(warm)
      runPipeline(s, warm)
      val nPages = s.read.parquet(dir).count()
      // in-run steal (see run-dedup note): the level's own window
      val j0 = graft.bench.Steal.jiffies()
      val t0 = System.nanoTime()
      val triples = runPipeline(s, dir)
      val sec = (System.nanoTime() - t0) / 1e9
      val st = graft.bench.Steal.avgCores(j0, graft.bench.Steal.jiffies(), sec)
      println(f"""{"level":"local[$c]","cores":$c,"seconds":$sec%.2f,"pages":$nPages,"triples":$triples,"pages_per_sec":${nPages / sec}%.1f,"triples_per_sec":${triples / sec}%.1f,"steal_cores":$st}""")
      s.stop()

    case _ =>
      System.err.println(
        "usage: ScalingBench stage <dir> <pages> | ScalingBench run <dir> <cores>" +
          " | ScalingBench stage-dedup <dir> <docs> | ScalingBench run-dedup <dir> <cores>")
      sys.exit(2)
  }
}
