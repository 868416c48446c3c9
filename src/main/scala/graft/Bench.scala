package graft

/** Round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (the driver's BENCH_r{N}.json contract).
  *
  * Each query is materialized through the `noop` datasource sink — unlike
  * `count()`, which lets Catalyst prune away every projected column, noop
  * evaluates the full result rows, so the measured time covers the real
  * work (regex chains, vector math, window sorts), not just row counting.
  */
object Bench {

  private def stealJiffies(): Long = graft.bench.Steal.jiffies()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // co-tenant load probe (VERDICT r03 #6): record average STOLEN cores
    // over the whole run so a loaded-window capture (like the 1.38×
    // BENCH_r03) is self-describing instead of a mystery regression
    val steal0 = stealJiffies()
    val tWall0 = System.nanoTime()
    val spark = graft.util.LocalSpark.session(cpus)
    // per-stage run/cpu/gc lines on stderr
    graft.bench.StageMetrics.install(spark.sparkContext)
    // force the fixture model to train OUTSIDE the timed region (it is a
    // frozen artifact in production — cf. reference model.py:54-68)
    SparkEntry.fixtureModel
    // SPARK_GRAFT_ONLY=q41_...,q45_... times a subset (iteration tooling;
    // the driver never sets it, so round captures always run everything).
    // A subset run must be SELF-DESCRIBING (like steal_cores): unknown
    // names fail fast, and the JSON carries an "only" count so a stray
    // exported variable can never masquerade as a full-capture speedup.
    // Parsed BEFORE fixture staging so a subset pays (and requires the
    // inputs of — e.g. events.parquet for the stream fixtures) only the
    // staging its selected queries read.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names not in queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def staged(users: String*): Boolean = only.forall(_.exists(users.contains))
    // ANN index builds are amortized batch jobs, not probe cost: stage
    // them untimed so q22/q42 measure the probe (VERDICT r02 #6); report
    // the build seconds as a separate top-level field
    val tIdx0 = System.nanoTime()
    if (staged("q22_ann_lsh", "q42_ann_ivf"))
      SparkEntry.prepareAnnIndexes(spark, sfDir)
    val idxBuildSec = (System.nanoTime() - tIdx0) / 1e9
    // q47/q48 chronological stream inputs are read-only fixture prep (not
    // the measured operator) — staged untimed too, but attributed to
    // their OWN field so index_build_sec keeps meaning index builds
    val tStage0 = System.nanoTime()
    if (staged("q47_stream_first_seen", "q48_stream_assign"))
      SparkEntry.prepareStreamFixture(spark, sfDir)
    val streamStageSec = (System.nanoTime() - tStage0) / 1e9
    // untimed warm-up: JIT + codegen + parquet reader init, so per-query
    // numbers measure the operator, not first-touch JVM costs
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(xxhash64(regexp_replace(lower(col("text")), "\\s+", " ")))
      .groupBy().count().write.format("noop").mode("overwrite").save()
    val failed = Seq.newBuilder[String]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val onlyJson = only.map(n => s""","only":${n.size}""").getOrElse("")
    // per-query steal (VERDICT r04 what's-wrong #3): the run-average
    // hides bursts — a 30 s co-tenant spike lands on ONE query and reads
    // as a 7× regression while steal_cores still says 0.1. Sampling
    // /proc/stat around each query makes a loaded query self-attribute.
    val results = selected.map { case (name, fn) =>
      val s0 = stealJiffies()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        // a failure must be VISIBLE in the JSON: elapsed-until-throw read
        // as a speedup in round-over-round comparison otherwise
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val s1 = stealJiffies()
      val qSteal = graft.bench.Steal.avgCores(s0, s1, sec)
      (name, sec, qSteal)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qSteals = results.map { case (k, _, s) => s"\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.result().map(n => s"\"$n\"").mkString("[", ",", "]")
    val steal1 = stealJiffies()
    val wallSec = (System.nanoTime() - tWall0) / 1e9
    val stealCores = graft.bench.Steal.avgCores(steal0, steal1, wallSec)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"query_steal":$qSteals,"index_build_sec":$idxBuildSec,"stream_stage_sec":$streamStageSec,"steal_cores":$stealCores$onlyJson,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
