package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 100) === 4.0)
    assert(Stats.median(xs) === 2.5)
    assert(Stats.percentile(Seq(7.0), 99) === 7.0)
    assert(math.abs(Stats.percentile((1 to 101).map(_.toDouble), 99) - 100.0) < 1e-9)
  }

  test("tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.supportedTail(1000) === Some(99.0))
    assert(Stats.supportedTail(999) === Some(95.0))
    assert(Stats.supportedTail(200) === Some(95.0))
    assert(Stats.supportedTail(199) === Some(90.0))
    assert(Stats.supportedTail(100) === Some(90.0))
    assert(Stats.supportedTail(40) === Some(75.0))
    assert(Stats.supportedTail(20) === Some(50.0))
    assert(Stats.supportedTail(19) === None)
  }

  test("tail of a small sample is its maximum, reported at p100") {
    assert(Stats.tail(Seq(3.0, 9.0, 5.0)) === ((9.0, 100.0)))
    val big = (1 to 1000).map(_.toDouble)
    val (v, p) = Stats.tail(big)
    assert(p === 99.0)
    assert(math.abs(v - Stats.percentile(big, 99)) < 1e-9)
  }

  test("failed_frac is failed over attempted and rejects impossible counts") {
    assert(Stats.failedFrac(10, 0) === 0.0)
    assert(Stats.failedFrac(8, 2) === 0.25)
    assert(Stats.failedFrac(3, 3) === 1.0)
    intercept[IllegalArgumentException](Stats.failedFrac(0, 0))
    intercept[IllegalArgumentException](Stats.failedFrac(2, 3))
  }

  test("interval union merges overlaps and clips to the window") {
    assert(Spans.unionNs(Seq((10L, 30L), (20L, 40L), (90L, 120L)), 0L, 100L) === 40L)
    assert(Spans.unionNs(Seq((0L, 5L), (5L, 10L)), 0L, 100L) === 10L)
    assert(Spans.unionNs(Seq((200L, 300L)), 0L, 100L) === 0L)
    assert(Spans.unionNs(Nil, 0L, 100L) === 0L)
  }

  test("self time subtracts the union of direct children only") {
    val spans = Seq(
      Span(1, 0, "bench.root", 0L, 100L, "r"),
      Span(2, 1, "pipeline.a", 10L, 30L, "r"),
      Span(3, 1, "pipeline.b", 20L, 40L, "r"),
      Span(4, 2, "spark.job.x", 12L, 18L, "r"),
      Span(5, 1, "ner.c", 90L, 120L, "r"))
    val self = Spans.selfTimes(spans)
    assert(self(1) === 60L) // 100 - |[10,40) ∪ [90,100)|
    assert(self(2) === 14L) // 20 - 6
    assert(self(3) === 20L)
    assert(self(4) === 6L)
    val byLayer = Spans.layerSelfTimes(spans)
    assert(byLayer("bench") === 60L)
    assert(byLayer("pipeline") === 34L)
    assert(byLayer("spark") === 6L)
    assert(byLayer("ner") === 30L)
  }

  test("generator: same seed gives the same pages, another seed different ones") {
    val a = (0L until 50L).map(j => Gen.page(1L, "t", j))
    val b = (0L until 50L).map(j => Gen.page(1L, "t", j))
    val c = (0L until 50L).map(j => Gen.page(2L, "t", j))
    assert(a.map(p => (p.url, p.text, p.truth, p.html.toSeq)) === b.map(p => (p.url, p.text, p.truth, p.html.toSeq)))
    assert(a.map(_.text) != c.map(_.text))
    assert(Gen.parallel(50, 1)(j => Gen.page(3L, "t", j.toLong).text) ===
      Gen.parallel(50, 4)(j => Gen.page(3L, "t", j.toLong).text))
  }

  test("generator: page lengths follow the reference mix and truth is the union of parts") {
    val ps = (0L until 2000L).map(j => Gen.page(5L, "t", j))
    val lens = ps.map(_.text.length.toDouble)
    val p50 = Stats.median(lens)
    assert(p50 > 1300 && p50 < 1900, s"p50 $p50")
    val mean = lens.sum / lens.length
    assert(mean > 2000 && mean < 2800, s"mean $mean")
    assert(ps.forall(p => p.text.startsWith(p.title + ". ")))
    // every truth mention occurs in the page text, as often as counted
    val p = ps.maxBy(_.text.length)
    p.truth.foreach { case (k, n) =>
      val norm = k.takeWhile(_ != '|')
      val occurrences = p.text.toLowerCase.sliding(norm.length).count(_ == norm)
      assert(occurrences >= n, s"$k")
    }
  }

  test("staged parquet is byte-identical for the same seed") {
    val dir = Files.createTempDirectory("perfbench-spec").toFile
    try {
      val pages = (0L until 30L).map(j => Gen.page(9L, "t", j))
      Gen.writeParquet(new File(dir, "a.parquet"), pages.iterator)
      Gen.writeParquet(new File(dir, "b.parquet"), pages.iterator)
      assert(Files.readAllBytes(new File(dir, "a.parquet").toPath).toSeq ===
        Files.readAllBytes(new File(dir, "b.parquet").toPath).toSeq)
      assert(dir.list().sorted.toSeq === Seq("a.parquet", "b.parquet"))
      val docs = new File(dir, "docs.bin")
      Gen.writeDocs(docs, pages)
      assert(Gen.readDocs(docs).map(d => (d.url, d.title + ". " + d.body)) === pages.map(p => (p.url, p.text)))
    } finally Util.deleteRecursively(dir)
  }

  test("truth lines round-trip") {
    val p = Gen.page(4L, "t", 3L)
    val t = Gen.parseTruth(Gen.truthLine(p))
    assert(t.url === p.url)
    assert(t.topic === p.topic)
    assert(t.mentions === p.truth)
  }

  test("arguments: launch time from run.py, else the JVM's start time; only benchmark workloads") {
    val base = Array("run", "--workload", "kg_batch", "--seed", "3", "--work", "w")
    assert(Main.parse(base ++ Array("--launched-us", "1234567")).launchedUs === 1234567L)
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    assert(Main.parse(base).launchedUs === jvmStartUs)
    assert(Main.parse(base).inputDir.getName === "kg_batch-s3-n10000")
    intercept[IllegalArgumentException](Main.parse(base.updated(2, "kg_stream")))
  }

  test("result line has exactly the four keys and every metric with its unit") {
    val r = Result(correct = true, attempted = 5, failed = 0,
      e2e = Seq(("setup_s", 1.25, "s")), layers = Seq(("a.b", 2.0, "count")), lines = Nil)
    assert(r.json(trace = false) ===
      """{"correct": true, "attempted": 5, "failed": 0, "metrics": {"setup_s": {"value": 1.25, "unit": "s"}}}""")
    assert(r.json(trace = true).contains(""""a.b": {"value": 2.0, "unit": "count"}"""))
  }
}
