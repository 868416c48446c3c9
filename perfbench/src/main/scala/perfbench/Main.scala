package perfbench

import java.io.File

import scala.collection.mutable

/** Entry point: `stage` writes a workload's seeded inputs, `run` measures
  * the engine on them and prints the result as the last stdout line.
  *
  * {{{
  * Main stage --workload kg_batch --seed 1 --work DIR [--size N]
  * Main run   --workload kg_batch --seed 1 --work DIR --seconds 10 --trace 0 [--size N] [--launched-us T]
  * }}}
  */
object Main {

  final case class Args(
      cmd: String, workload: String, seed: Long, seconds: Double, trace: Boolean,
      size: Option[Int], work: File, launchedUs: Long) {
    def inputDir: File = new File(work, s"inputs/$workload-s$seed-n${Workloads.size(this)}")
  }

  def parse(argv: Array[String]): Args = {
    require(argv.nonEmpty, "usage: Main stage|run --workload W --seed N --work DIR ...")
    val kv = argv.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(argv(0), get("workload"), get("seed").toLong,
      kv.get("seconds").map(_.toDouble).getOrElse(10.0),
      kv.get("trace").exists(_ == "1"), kv.get("size").map(_.toInt),
      new File(get("work")).getAbsoluteFile,
      kv.get("launched-us").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L))
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.names.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be > 0")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.cmd match {
      case "stage" =>
        val t0 = System.nanoTime()
        Workloads.stage(a)
        println(f"staged ${a.inputDir.getName} in ${Util.secs(System.nanoTime() - t0)}%.2f s " +
          s"digest ${new String(java.nio.file.Files.readAllBytes(new File(a.inputDir, "_STAGED").toPath)).trim}")
      case "run" =>
        require(new File(a.inputDir, "_STAGED").exists(), s"inputs not staged: ${a.inputDir}")
        val r = Workloads.run(a)
        r.lines.foreach(println)
        println(r.json(a.trace))
        System.out.flush()
      case other => throw new IllegalArgumentException(s"unknown command $other")
    }
  }
}

/** What one run reports. `e2e` and `layers` map metric name to (value, unit). */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    e2e: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)],
    lines: Seq[String]) {

  def json(trace: Boolean): String = {
    val ms = (if (trace) layers else e2e).map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Accumulates named metrics in declaration order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
  def get(name: String): Double = m.get(name).map(_._1).getOrElse(0.0)
  def seq: Seq[(String, Double, String)] = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
}
