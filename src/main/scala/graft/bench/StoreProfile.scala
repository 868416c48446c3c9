package graft.bench

import org.apache.spark.sql.functions._

/** Diagnostic: per-phase wall time of the store lifecycle the q41/q46/q48
  * bench queries are dominated by (commit → delete → read-back at toy
  * scale is ~all fixed overhead; this main shows WHERE it sits so a
  * regression in those queries can be attributed without guessing).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.bench.StoreProfile
  */
object StoreProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSpark.session(cpus)
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // warm-up: JIT + parquet reader init
    spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy().count().write.format("noop").mode("overwrite").save()

    (1 to 2).foreach { round =>
      println(s"--- round $round ---")
      val root = graft.SparkEntry.scratchDir("graft_prof_")
      val store = new graft.pipeline.TripleStore(root, spark)
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val t = base.select(
        col("doc_id").cast("string").as("subj"),
        lit("fromSource").as("pred"),
        when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("source")).as("obj"),
        col("lang"))
        .unionByName(base.select(
          col("doc_id").cast("string").as("subj"),
          lit("hasLang").as("pred"),
          col("lang").as("obj"),
          col("lang")))
      val even = t.filter(col("subj").cast("long") % 2 === 0)
      val odd = t.filter(col("subj").cast("long") % 2 =!= 0)
      timed("materialize inputs")(even.unionByName(odd).groupBy().count()
        .write.format("noop").mode("overwrite").save())
      // write-job decomposition: which part of the ~2.5 s commit write is
      // partitionBy fan-out vs shuffle vs observe vs the bare write?
      val wp = even.withColumn("bucket", pmod(xxhash64(col("subj")), lit(16)))
      timed("w/ bare write")(even.write.mode("overwrite")
        .parquet(s"$root/w_bare"))
      timed("w/ repart only")(wp.repartition(col("lang"), col("bucket"))
        .write.mode("overwrite").parquet(s"$root/w_rep"))
      timed("w/ repart+partBy")(wp.repartition(col("lang"), col("bucket"))
        .write.mode("overwrite").partitionBy("pred", "lang", "bucket")
        .parquet(s"$root/w_pb"))
      timed("w/ partBy+committerV2")(wp.repartition(col("lang"), col("bucket"))
        .write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .partitionBy("pred", "lang", "bucket")
        .parquet(s"$root/w_v2"))
      timed("w/ +observe")({
        val o = new org.apache.spark.sql.Observation()
        wp.repartition(col("lang"), col("bucket"))
          .observe(o, count(lit(1)).as("rows"))
          .write.mode("overwrite").partitionBy("pred", "lang", "bucket")
          .parquet(s"$root/w_obs")
        o.get("rows")
      })
      timed("commit b1")(store.commit("b1", even))
      timed("commit b2")(store.commit("b2", odd))
      timed("deleteWhere")(store.deleteWhere(
        col("pred") === "fromSource" && col("obj").isin("src1", "src7", "src13")))
      timed("committed+sort+noop")(store.committed()
        .select(col("subj").cast("long").as("doc_id"), col("pred"),
          col("obj"), col("lang"))
        .orderBy(col("doc_id"), col("pred"))
        .write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
