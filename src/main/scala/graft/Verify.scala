package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.util.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // enable oracle side-table staging (read by the DuckDB compare)
    System.setProperty("graft.stage.oracle", "1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.LocalSpark.session(cpus)
    new java.io.File(outDir).mkdirs()
    // the full query list lets check_oracle.py FAIL any query that
    // crashed here (a missing dump dir must not silently vanish from the
    // gate); exit code stays 0 — the driver owns the pass/fail verdict
    Files.writeString(Paths.get(outDir, "_queries.json"),
      Json.mapper.writeValueAsString(SparkEntry.queries.keys.toSeq.sorted.asJava))
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        // fatal JVM errors (OOM, linkage) must abort: continuing in a
        // corrupt JVM produces garbage dumps that read as value
        // mismatches on healthy queries. Class + stack, not just the
        // message (an NPE's message is null).
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
      }
    }
    // the codec escapes ALL control chars — a tab or CR in the SQL would
    // otherwise make the DuckDB compare's json.load fail
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.mapper.writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
