package graft.bench

/** Round-6 plan capture: dumps `.explain("formatted")` for each declared
  * query to `plans/r06/<query>_<tag>.txt` (the optimization round's
  * evidence files). Not part of the measured bench — a diagnostic main,
  * like [[StoreProfile]].
  *
  * Usage: runMain graft.bench.Plans <tag> [q33_minhash_lsh,...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val tag = if (args.nonEmpty) args(0) else "before"
    val only = if (args.length > 1)
      Some(args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSpark.session(cpus)
    graft.SparkEntry.fixtureModel
    val outDir = java.nio.file.Paths.get("plans", "r06")
    java.nio.file.Files.createDirectories(outDir)
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] $name -> ${name}_$tag.txt")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
