package graft.bench

import org.apache.spark.sql.functions._

/** Scratch diagnostic: phase timing of the q45 retrain path (round 6). */
object ProfTrain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSpark.session(cpus)
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[train] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy().count().write.format("noop").mode("overwrite").save()
    (1 to 2).foreach { round =>
      println(s"--- round $round ---")
      val root = graft.SparkEntry.scratchDir("graft_ptrain_")
      val store = new graft.pipeline.TripleStore(s"$root/store", spark)
      val reg = new graft.pipeline.RunRegistry(s"$root/registry", spark)
      val pages = spark.read.parquet(s"$sfDir/documents.parquet").select(
        col("doc_id").cast("string").as("url"), col("lang"),
        col("text").as("clean"))
      def assign(m: Int)(in: org.apache.spark.sql.DataFrame) =
        in.select(col("url"), col("lang"),
          pmod(col("url").cast("long"), lit(m)).cast("int").as("id_topic"))
      timed("register+activate run1")({
        reg.register("run1", "topics_detector", 512, 8, 6, 0.0)
        reg.activate("run1")
      })
      timed("assign run1 (commit b1)")(
        graft.pipeline.KgPipeline.assignTopicsIncremental(
          store, "b1", "run1", pages, assign(5)))
      val (params, sil) = timed("trainer.train TOTAL")(
        graft.topics.DistributedTrainer.train(pages))
      println(s"[train]   (vocab=${params.vocab.length}, sil=$sil)")
      timed("register run2")(
        reg.register("run2", "topics_detector", params.vocab.length, 8, 6, sil))
      timed("modelIO.save")(
        graft.topics.ModelIO.save(spark, params, s"$root/model"))
      timed("activate run2")(reg.activate("run2"))
      timed("assign run2 (commit b2)")(
        graft.pipeline.KgPipeline.assignTopicsIncremental(
          store, "b2", "run2", pages, assign(3)))
      timed("read-back+noop")({
        val regRows = reg.table().select(
          col("id_run").as("subj"), lit("is_active").as("pred"),
          col("is_active").cast("string").as("obj"))
        store.committed().select(col("subj"), col("pred"), col("obj"))
          .unionByName(regRows)
          .orderBy(col("subj"), col("pred"))
          .write.format("noop").mode("overwrite").save()
      })
    }
    spark.stop()
  }
}
