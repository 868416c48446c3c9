package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started, and stages submitted whose lineage reads files
    * (a `FileScanRDD`), while `body` runs. The listener bus is
    * asynchronous, so the counts are read once they have been unchanged
    * for 500 ms (cap 5 s) — a fixed sleep could undercount late events
    * under load and false-pass a budget.
    */
  def sparkActivity(body: => Unit): (Long, Long) = {
    val jobs = new AtomicLong(0L)
    val scans = new AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      val deadline = System.nanoTime() + 5000000000L
      var last = (jobs.get(), scans.get()); var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
             System.nanoTime() - stableSince < 500000000L) {
        Thread.sleep(50)
        val now = (jobs.get(), scans.get())
        if (now != last) { last = now; stableSince = System.nanoTime() }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs.get(), scans.get())
  }
}

object SparkSpec {
  /** Every regular file under `root` (relative path → content): two
    * equal trees mean a store's files are unchanged.
    */
  def fileTree(root: String): Map[String, String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base) // close: holds an open fd
    try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => base.relativize(f).toString ->
        new String(java.nio.file.Files.readAllBytes(f), java.nio.charset.StandardCharsets.ISO_8859_1))
      .toMap
    finally walk.close()
  }

  lazy val session: SparkSession = graft.util.LocalSpark.session("4")
}
