package graft.bench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The per-stage run/cpu/gc metrics listener shared by [[graft.Bench]]
  * and [[graft.ScalingBench]] (one copy owns the line format — this is
  * the tool that found the round-2 racing-cache-recompute bug).
  * Always installed; the `[stage]` lines go to stderr so stdout carries
  * only the mains' JSON lines.
  */
object StageMetrics {

  def listener(out: java.io.PrintStream): SparkListener = new SparkListener {
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val m = i.taskMetrics
      out.println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d " +
        f"run=${m.executorRunTime / 1000.0}%8.1fs " +
        f"cpu=${m.executorCpuTime / 1e9}%8.1fs " +
        f"gc=${m.jvmGCTime / 1000.0}%7.1fs  ${i.name.take(60)}")
    }
  }

  def install(sc: SparkContext): Unit = sc.addSparkListener(listener(System.err))
}
