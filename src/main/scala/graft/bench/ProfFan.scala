package graft.bench

import org.apache.spark.sql.functions._

/** Scratch diagnostic for the partitionBy fan-out cost (round 6). */
object ProfFan {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSpark.session(cpus)
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[fan] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy().count().write.format("noop").mode("overwrite").save()
    val root = graft.SparkEntry.scratchDir("graft_fan_")
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
      .filter(col("subj").cast("long") % 2 === 0)
      .withColumn("bucket", pmod(xxhash64(col("subj")), lit(16)))
      .persist()
    t.count()
    (1 to 2).foreach { round =>
      println(s"--- round $round ---")
      for (n <- Seq(2, 4, 6, 8, 12, 16, 24, 32)) {
        timed(s"pb(p,l,b) rep$n")(
          t.repartition(n, col("lang"), col("bucket"))
            .write.mode("overwrite").partitionBy("pred", "lang", "bucket")
            .parquet(s"$root/n${n}_$round"))
      }
      timed("pb(p,l,b) rep32 rawfs")({
        val hc = spark.sparkContext.hadoopConfiguration
        val old = hc.get("fs.file.impl")
        hc.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        org.apache.hadoop.fs.FileSystem.closeAll()
        try t.repartition(col("lang"), col("bucket"))
          .write.mode("overwrite").partitionBy("pred", "lang", "bucket")
          .parquet(s"$root/raw$round")
        finally {
          if (old == null) hc.unset("fs.file.impl") else hc.set("fs.file.impl", old)
          org.apache.hadoop.fs.FileSystem.closeAll()
        }
      })
    }
    spark.stop()
  }
}
