package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** The `[stage]` line format that Bench and ScalingBench print to stderr. */
class StageMetricsSpec extends SparkSpec {

  test("StageMetrics.listener: a shuffle job prints one [stage] line per completed stage") {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, StandardCharsets.UTF_8)
    // an independent record of the completed stages: id → task count
    val completed = TrieMap.empty[Int, Int]
    val metrics = graft.bench.StageMetrics.listener(out)
    val probe = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        completed.put(sc.stageInfo.stageId, sc.stageInfo.numTasks)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(metrics)
    sc.addSparkListener(probe)
    try sparkActivity {
      val groups = spark.range(0, 1000, 1, 4)
        .groupBy((col("id") % 7).as("k")).count().collect()
      assert(groups.length === 7)
    } finally {
      sc.removeSparkListener(metrics)
      sc.removeSparkListener(probe)
    }
    val Line = """\[stage\] id=\s*(\d+) tasks=\s*(\d+) run=\s*\d+\.\ds cpu=\s*\d+\.\ds gc=\s*\d+\.\ds  .*""".r
    val lines = new String(buf.toByteArray, StandardCharsets.UTF_8).linesIterator.toSeq
    val parsed = lines.map {
      case Line(id, tasks) => id.toInt -> tasks.toInt
      case other => fail(s"malformed stage line: '$other'")
    }
    assert(completed.size >= 2, s"a shuffle job completes a map and a result stage: $completed")
    assert(parsed.size === completed.size, lines.mkString("\n"))
    assert(parsed.toMap === completed.toMap, lines.mkString("\n"))
  }
}
