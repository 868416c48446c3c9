package graft

/** Dev driver: runs the flagship entry() (the driver's smoke check) and
  * prints row count + a sample, plus the physical plan of one headline
  * query for plan inspection.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.util.LocalSpark.session(cpus)
    val t0 = System.nanoTime()
    // persist: count + the two shows would otherwise re-run the whole
    // pipeline once EACH (the timed number then covers only a third)
    val df = SparkEntry.entry(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = df.count()
    println(f"[smoke] entry() rows=$n in ${(System.nanoTime() - t0) / 1e9}%.1f sec")
    df.groupBy("pred").count().orderBy("pred").show(10, truncate = false)
    df.orderBy("subj", "pred", "obj").show(8, truncate = false)
    if (args.contains("--explain")) {
      df.explain("formatted")
    }
    spark.stop()
  }
}
