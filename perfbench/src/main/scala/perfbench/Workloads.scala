package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bench.Steal
import graft.functions.{CleanTextImpl, HtmlStripper, Text}
import graft.ner.{FixtureGazetteer, NerExtractor, TokenTrie}
import graft.pipeline.TripleStore
import graft.schema.Pred
import graft.topics.{FixtureTrainer, TopicModelParams, TopicScorer}

/** The workloads. Each run: set up once (`setup_s` is the time from the
  * launch of the JVM to ready), run once untimed, measure for `--seconds`,
  * check every output, report.
  */
object Workloads {

  val names: Seq[String] = Seq("kg_batch", "api_analyze")

  val Cores = 4

  /** Default input size per workload, in pages: one batch, distinct api texts. */
  val DefaultSize: Map[String, Int] = Map("kg_batch" -> 10000, "api_analyze" -> 8000)

  def size(a: Main.Args): Int = a.size.getOrElse(DefaultSize(a.workload))

  /** Untimed closed-loop load before the api measurement. */
  val ApiWarmupSec = 3.0

  /** Seeds of the fixed inputs shared by all runs: warm-up pages and the
    * single-thread kernel sample.
    */
  val WarmSeed = 7001L
  val SampleSeed = 7002L
  val WarmPages = 400
  val SamplePages = 300

  // ------------------------------------------------------------------ staging

  def stage(a: Main.Args): Unit = {
    val n = size(a)
    val threads = math.min(Cores, Runtime.getRuntime.availableProcessors())
    Gen.stageOnce(a.inputDir) { dir =>
      val warm = Gen.parallel(WarmPages, threads)(j => Gen.page(WarmSeed, "warm", j.toLong))
      new File(dir, "warm").mkdirs()
      warm.grouped(WarmPages / 2).zipWithIndex.foreach { case (ps, i) =>
        Gen.writeParquet(new File(dir, f"warm/part-$i%05d.parquet"), ps.iterator)
      }
      val sample = Gen.parallel(SamplePages, threads)(j => Gen.page(SampleSeed, "sample", j.toLong))
      Gen.writeDocs(new File(dir, "sample.bin"), sample)
      a.workload match {
        case "kg_batch" =>
          val pages = Gen.parallel(n, threads)(j => Gen.page(a.seed, a.workload, j.toLong))
          writePages(new File(dir, "pages"), pages, files = 8, threads)
          writeTruth(new File(dir, "truth.tsv"), pages)
        case "api_analyze" =>
          val pages = Gen.parallel(n, threads)(j => Gen.page(a.seed, a.workload, j.toLong))
          Gen.writeDocs(new File(dir, "requests.bin"), pages)
          writeTruth(new File(dir, "truth.tsv"), pages)
      }
    }
  }

  private def writeTruth(f: File, pages: Seq[BenchPage]): Unit =
    Files.writeString(f.toPath, pages.map(p => Gen.truthLine(p) + "\n").mkString)

  private def writePages(dir: File, pages: IndexedSeq[BenchPage], files: Int, threads: Int): Unit = {
    dir.mkdirs()
    val per = (pages.length + files - 1) / files
    Gen.parallel(files, threads) { i =>
      Gen.writeParquet(new File(dir, f"part-$i%05d.parquet"),
        pages.slice(i * per, math.min(pages.length, (i + 1) * per)).iterator)
    }
    ()
  }

  // -------------------------------------------------------------------- run

  final class Ctx(val a: Main.Args) {
    val runDir: File = new File(a.work, s"runs/${a.workload}-s${a.seed}-${ProcessHandle.current().pid()}")
    val in: File = a.inputDir
    val truth: Seq[Gen.Truth] = Gen.readTruth(new File(in, "truth.tsv"))
    val tracer = new Tracer(runDir.getName, a.trace)
    val e2e = new Metrics
    val layers = new Metrics
    val lines = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var correct = true
    private var n = 0
    def fresh(tag: String): String = { n += 1; new File(runDir, s"$tag-$n").getPath }
    def say(s: String): Unit = lines += s
    def fail(what: String): Unit = { correct = false; say(s"CHECK FAILED: $what") }
  }

  def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // three shuffle partitions per core, as graft.ScalingBench runs it
      .config("spark.sql.shuffle.partitions", Cores * 3)
      .config("spark.local.dir", new File(ctx.a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(ctx.a.work, "spark-warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(ctx.runDir, "ckpt-default").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The frozen fixture topic model, trained the way `SparkEntry.fixtureModel` is. */
  def fixtureModel(): TopicModelParams =
    FixtureTrainer.train((0L until 240L).map(i =>
      Text.cleanTextScala(graft.fixtures.PageGen.generate(i).text)))

  final class Engine(val spark: SparkSession, val params: TopicModelParams) {
    val trie: Broadcast[TokenTrie] = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val paramsBc: Broadcast[TopicModelParams] = spark.sparkContext.broadcast(params)
    val aliases: DataFrame = {
      import spark.implicits._
      FixtureGazetteer.aliasPairs.toDF("norm_a", "norm_b", "entity_type")
    }
  }

  def run(a: Main.Args): Result = {
    val ctx = new Ctx(a)
    Util.deleteRecursively(ctx.runDir)
    ctx.runDir.mkdirs()
    ctx.say(s"perfbench workload=${a.workload} seed=${a.seed} size=${size(a)} " +
      s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0} nproc=${Runtime.getRuntime.availableProcessors()}")
    val j0 = Steal.jiffies()
    val t0 = System.nanoTime()
    try {
      a.workload match {
        case "kg_batch" => Batch.run(ctx)
        case "api_analyze" => ApiLoad.run(ctx)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        ctx.fail(s"run raised ${e.getClass.getName}: ${e.getMessage}")
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Util.deleteRecursively(ctx.runDir)
    }
    val wall = Util.secs(System.nanoTime() - t0)
    val steal = Steal.avgCores(j0, Steal.jiffies(), wall)
    ctx.attempted = math.max(ctx.attempted, 1L)
    if (!ctx.correct) ctx.failed = ctx.attempted
    ctx.e2e.put("peak_rss_mb", Stats.peakRssMb(), "MB")
    val ff = Stats.failedFrac(ctx.attempted, ctx.failed)
    ctx.say(f"failed_frac $ff%.4f ratio (${ctx.failed} of ${ctx.attempted})")
    ctx.say(f"host.steal_cores $steal%.2f cores over $wall%.1f s; nproc ${Runtime.getRuntime.availableProcessors()}")
    ctx.layers.put("failed_frac", ff, "ratio")
    ctx.layers.put("host.steal_cores", steal, "cores")
    val e2e = E2eMetrics.map { case (n, u) => (n, ctx.e2e.get(n), u) }
    e2e.foreach { case (n, v, u) => ctx.say(f"e2e $n $v%.6g $u") }
    val layers = LayerMetrics.map { case (n, u) => (n, ctx.layers.get(n), u) }
    if (a.trace) layers.foreach { case (n, v, u) => ctx.say(f"layer $n $v%.6g $u") }
    Result(ctx.correct, ctx.attempted, ctx.failed, e2e, layers, ctx.lines.toSeq)
  }

  /** End-to-end metrics every workload reports (see README.md for what
    * each means per workload). The tail latency is printed with its sample
    * count but is not one of them: co-tenant CPU steal moves it by more
    * than any bound a regression check could use.
    */
  val E2eMetrics: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms")

  /** Span layers: the engine's modules, `spark` for job spans, `bench`
    * for the benchmark's own root span (the unattributed remainder).
    */
  val Layers: Seq[String] = Seq("functions", "ner", "topics", "link", "canon", "pipeline",
    "streaming", "api", "spark", "bench")

  /** Per-layer metrics every traced run reports; 0 where a workload does
    * not exercise the layer.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "functions.html_strip_us" -> "us", "functions.clean_text_us" -> "us",
    "functions.clean_offsets_us" -> "us", "ner.detect_us" -> "us",
    "ner.mentions_per_page" -> "count", "topics.score_us" -> "us",
    "pipeline.unprocessed_s" -> "s", "pipeline.analyze_s" -> "s",
    "pipeline.analyze.task_skew" -> "ratio", "link.dict_s" -> "s", "canon.same_as_s" -> "s",
    "pipeline.entity_merge_s" -> "s", "pipeline.store_commit_s" -> "s",
    "pipeline.store_commit.files" -> "count", "pipeline.store_commit.mb" -> "MB",
    "streaming.trigger_s.p50" -> "s", "streaming.add_batch_s.p50" -> "s",
    "streaming.overhead_s.p50" -> "s", "streaming.queue_wait_s.p50" -> "s",
    "streaming.busy_frac" -> "ratio", "streaming.triggers" -> "count",
    "pipeline.triplestore.jobs_per_trigger" -> "count", "pipeline.triplestore.busy_s" -> "s",
    "pipeline.entitystore.jobs_per_trigger" -> "count", "pipeline.entitystore.busy_s" -> "s",
    "pipeline.kgpipeline.jobs_per_trigger" -> "count", "pipeline.kgpipeline.busy_s" -> "s",
    "pipeline.store.live_manifests_end" -> "count", "pipeline.store.files_end" -> "count",
    "pipeline.store.bytes_per_triple" -> "B", "pipeline.entitystore.versions_end" -> "count",
    "api.request_us.p50" -> "us",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB") ++
    Layers.map(l => s"trace.self_s.$l" -> "s") ++ Seq(
    "trace.span_coverage" -> "ratio", "trace.overhead_frac" -> "ratio", "failed_frac" -> "ratio",
    "host.steal_cores" -> "cores", "host.cpu_ms_per_op" -> "ms")

  // ------------------------------------------------------------ shared parts

  /** Runs `body` once and reports `setup_s`: from the launch of this JVM
    * (`--launched-us`) to ready, so class loading, JIT warm-up and lazy
    * engine state all count. The truth is read before; it is input, not set-up.
    */
  def setup[T](ctx: Ctx)(body: => T): T = {
    val r = body
    val s = (Util.epochUs() - ctx.a.launchedUs) / 1e6
    ctx.say(f"setup_s $s%.3f s (JVM launch to ready)")
    ctx.e2e.put("setup_s", s, "s")
    r
  }

  /** Session, fixture model, broadcasts and one small job. */
  def sparkSetup(ctx: Ctx): Engine =
    setup(ctx) {
      val s = session(ctx)
      val e = new Engine(s, fixtureModel())
      s.read.parquet(new File(ctx.in, "warm").getPath).select("url").count()
      e
    }

  /** One untimed pass of the workload's own code, so most JIT compilation
    * and code generation is done before timing.
    */
  def warmup(ctx: Ctx)(body: => Any): Unit = {
    val t0 = System.nanoTime()
    body
    ctx.say(f"warmup_s ${Util.secs(System.nanoTime() - t0)}%.3f s (untimed)")
  }

  /** Median latency as the e2e metric; the tail is printed beside it. */
  def reportLatency(ctx: Ctx, name: String, samplesMs: Seq[Double]): Unit = {
    val p50 = Stats.median(samplesMs)
    val (tail, p) = Stats.tail(samplesMs)
    ctx.e2e.put("latency_p50_ms", p50, "ms")
    ctx.say(f"$name latency p50 $p50%.4f ms, tail p${p}%.0f $tail%.4f ms over ${samplesMs.length} samples")
  }

  /** Process CPU time per operation of the measured phase. */
  def cpuPerOp(ctx: Ctx, what: String, ns: Double): Unit = {
    ctx.layers.put("host.cpu_ms_per_op", ns / 1e6, "ms")
    ctx.say(f"cpu per $what ${ns / 1e6}%.4f ms (process CPU time, all threads)")
  }

  /** Job metrics of all jobs seen, as the spark.* per-layer metrics. */
  def sparkTotals(ctx: Ctx, jobs: Seq[JobRec]): Unit = {
    ctx.layers.put("spark.jobs", jobs.length.toDouble, "count")
    ctx.layers.put("spark.tasks", jobs.map(_.tasks).sum.toDouble, "count")
    ctx.layers.put("spark.gc_s", jobs.map(_.gcMs).sum / 1e3, "s")
    ctx.layers.put("spark.shuffle_write_mb", jobs.map(_.shuffleWriteBytes).sum / 1e6, "MB")
    ctx.layers.put("spark.spill_mb", jobs.map(_.spillBytes).sum / 1e6, "MB")
  }

  /** Adds every job as a child span of the span its group names (or of
    * `fallbackParent`), named after its call-site file.
    */
  def jobSpans(ctx: Ctx, jobs: Seq[JobRec], fallbackParent: Int): Unit =
    jobs.filter(_.endNs > 0).foreach { j =>
      val parent = if (j.group.startsWith("span-")) j.group.drop(5).toInt else fallbackParent
      ctx.tracer.addDerived(parent, s"spark.job.${j.site.toLowerCase}", j.startNs, j.endNs)
    }

  /** Per-span job metrics, one line per named span kind. */
  def spanJobLines(ctx: Ctx, jobs: Seq[JobRec]): Unit = {
    val names = ctx.tracer.spans.map(s => s.id -> s.name).toMap
    jobs.groupBy(j => names.getOrElse(
      if (j.group.startsWith("span-")) j.group.drop(5).toInt else 0, "(none)"))
      .toSeq.sortBy(_._1).foreach { case (n, js) =>
        ctx.say(f"span $n: spark.jobs ${js.length} tasks ${js.map(_.tasks).sum} " +
          f"gc_s ${js.map(_.gcMs).sum / 1e3}%.3f shuffle_write_mb ${js.map(_.shuffleWriteBytes).sum / 1e6}%.2f " +
          f"spill_mb ${js.map(_.spillBytes).sum / 1e6}%.2f")
      }
  }

  /** Self time per layer, coverage of the root span, span file. */
  def finishTrace(ctx: Ctx, rootId: Int): Unit = {
    val spans = ctx.tracer.spans
    val byLayer = Spans.layerSelfTimes(spans)
    Layers.foreach(l => ctx.layers.put(s"trace.self_s.$l", byLayer.getOrElse(l, 0L) / 1e9, "s"))
    spans.find(_.id == rootId).foreach { root =>
      val self = Spans.selfTimes(spans)(rootId)
      val cov = 1.0 - self.toDouble / math.max(1L, root.durNs)
      ctx.layers.put("trace.span_coverage", cov, "ratio")
      ctx.say(f"trace: ${spans.length} spans, wall ${root.durNs / 1e9}%.3f s, unattributed " +
        f"${self / 1e9}%.3f s, coverage ${cov * 100}%.1f%%")
    }
    byLayer.toSeq.sortBy(-_._2).foreach { case (l, ns) => ctx.say(f"self time $l ${ns / 1e9}%.3f s") }
    val out = new File(ctx.a.work, s"spans/${ctx.runDir.getName}.jsonl")
    ctx.tracer.write(out)
    ctx.say(s"spans written to ${ctx.a.work.getName}/spans/${out.getName}")
  }

  /** Single-thread µs/page of the fused pass's kernels on the fixed sample. */
  def kernels(ctx: Ctx, trie: TokenTrie, params: TopicModelParams): Unit = {
    val pages = Gen.readDocs(new File(ctx.in, "sample.bin"))
    // untimed repetitions first: a kernel the workload never ran is cold
    def perItem[A](xs: Seq[A], reps: Int = 15)(f: A => Unit): Double = {
      (1 to reps).foreach(_ => xs.foreach(f))
      Stats.median((1 to reps).map { _ =>
        val t0 = System.nanoTime(); xs.foreach(f); (System.nanoTime() - t0) / 1e3 / xs.length
      })
    }
    val keep = Some(FixtureGazetteer.keepLabels)
    val cleaned = pages.map(p => p.url -> CleanTextImpl.cleanString(HtmlStripper.strip(p.html))).toMap
    val mentions = cleaned.values.map(c => NerExtractor.detect(trie, "u", c, keep).size).sum
    def kernel[A](name: String, xs: Seq[A])(f: A => Unit): Unit =
      ctx.tracer.span(name)(ctx.layers.put(s"${name}_us", perItem(xs)(f), "us"))
    kernel("functions.html_strip", pages)(p => HtmlStripper.strip(p.html))
    kernel("functions.clean_text", pages.map(p => HtmlStripper.strip(p.html)))(CleanTextImpl.cleanString)
    kernel("functions.clean_offsets", pages)(p => Text.cleanTextWithOffsets(p.text))
    kernel("ner.detect", pages)(p => NerExtractor.detect(trie, p.url, cleaned(p.url), keep).size)
    kernel("topics.score", pages)(p => TopicScorer.score(params, p.url, cleaned(p.url)))
    ctx.layers.put("ner.mentions_per_page", mentions.toDouble / pages.length, "count")
  }

  // ---------------------------------------------------------------- checks

  /** Checks a triple store against the truth of the pages fed to it. */
  def checkStore(ctx: Ctx, store: TripleStore, truth: Seq[Gen.Truth]): Boolean = {
    val rows = store.committed().select("subj", "pred", "obj", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val urls = truth.map(_.url).toSet
    var ok = true
    def bad(s: String): Unit = { ok = false; ctx.fail(s) }
    val got = rows.filter(_._2 == Pred.Mentions).map(r => (r._1, r._3) -> r._4).toMap
    val want = truth.flatMap(t => t.mentions.map { case (k, n) => (t.url, k) -> n.toLong }).toMap
    val hit = got.keySet.intersect(want.keySet).size
    val p = if (got.isEmpty) 0.0 else hit.toDouble / got.size
    val r = if (want.isEmpty) 1.0 else hit.toDouble / want.size
    val wrongCount = got.count { case (k, n) => want.get(k).exists(_ != n) }
    ctx.say(f"check mentions: precision $p%.4f recall $r%.4f (${got.size} triples, ${want.size} true, $wrongCount wrong counts)")
    if (p < 0.95 || r < 0.95) bad(f"mention P/R $p%.4f/$r%.4f below 0.95")
    val topics = rows.filter(_._2 == Pred.HasTopic).groupBy(_._1).map { case (u, rs) => u -> rs.length }
    if (topics.keySet != urls || topics.values.exists(_ != 1))
      bad(s"hasTopic: ${topics.size} pages with a topic, ${topics.count(_._2 != 1)} with !=1, ${urls.size} pages")
    val marks = rows.filter(_._2 == Pred.Processed).groupBy(_._1).map { case (u, rs) => u -> rs.length }
    if (marks.keySet != urls || marks.values.exists(_ != 1))
      bad(s"processedIn: ${marks.size} pages marked, ${marks.count(_._2 != 1)} with !=1, ${urls.size} pages")
    val same = rows.filter(_._2 == Pred.SameAs).groupBy(_._1).map { case (u, rs) => u -> rs.map(_._3).distinct.length }
    if (same.values.exists(_ > 1)) bad(s"sameAs: ${same.count(_._2 > 1)} entities with >1 canonical")
    val expectSame = sameAsEdges(truth)
    if (same.size != expectSame) bad(s"sameAs: ${same.size} edges, expected $expectSame")
    ctx.say(s"check store: ${rows.length} triples, ${topics.size} hasTopic, ${marks.size} processedIn, ${same.size} sameAs")
    ok
  }

  /** One sameAs edge per alias pair whose two entities both occur. */
  def sameAsEdges(truth: Seq[Gen.Truth]): Int = {
    val present = truth.flatMap(_.mentions.keys).toSet
    FixtureGazetteer.aliasPairs.count { case (x, y, t) =>
      present.contains(s"$x|$t") && present.contains(s"$y|$t") }
  }

  /** Exact triple count a fresh store holds after committing `truth`'s
    * pages: a topic, a marker and one mention triple per entity per page.
    */
  def expectedTriples(truth: Seq[Gen.Truth]): Long =
    truth.map(t => 2L + t.mentions.size).sum + sameAsEdges(truth)

  def dirStats(dir: File): (Int, Long) = {
    val fs = Util.files(dir, ".parquet")
    (fs.length, fs.map(_.length()).sum)
  }
}
