package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.api.Api
import graft.ner.FixtureGazetteer
import graft.pipeline.{EntityStore, KgPipeline, TripleStore}
import graft.schema.Pred
import graft.streaming.KgStream

import Workloads._

/** kg_batch: one batch of pages → `runIncremental` into a fresh triple
  * store and entity store, with the fixture aliases, as often as the run
  * allows; after each round, point lookups of single pages in the store
  * it built. The traced run calls the steps of `runIncremental` one at a
  * time, then feeds one file through `KgStream.start`.
  */
object Batch {

  /** Lookups timed after each round; their median is `latency_p50_ms`. */
  val LookupsPerRound = 8

  def run(ctx: Ctx): Unit = {
    val e = sparkSetup(ctx)
    val pages = e.spark.read.parquet(new File(ctx.in, "pages").getPath)
    val nPages = ctx.truth.length
    val expected = expectedTriples(ctx.truth)

    /** Reads every triple of one page from the committed store, as a
      * reader of the graph would, and checks them against its truth.
      */
    def lookups(store: TripleStore, k: Int): Seq[Double] = {
      val rng = new java.util.Random(graft.util.Hashing.splitmix64(ctx.a.seed * 131 + k))
      (1 to LookupsPerRound).map { _ =>
        val t = ctx.truth(rng.nextInt(nPages))
        val t0 = System.nanoTime()
        val rows = store.committed().where(col("subj") === t.url).select("pred", "obj", "weight").collect()
        val ms = (System.nanoTime() - t0) / 1e6
        val mentions = rows.filter(_.getString(0) == Pred.Mentions).map(r => r.getString(1) -> r.getLong(2)).toMap
        def one(pred: String) = rows.count(_.getString(0) == pred) == 1
        ctx.attempted += 1
        if (mentions != t.mentions.map { case (m, n) => m -> n.toLong } || !one(Pred.HasTopic) || !one(Pred.Processed)) {
          ctx.fail(s"lookup of ${t.url}: ${rows.length} triples do not match its truth")
          ctx.failed += 1
        }
        ms
      }
    }

    warmup(ctx) {
      KgPipeline.runIncremental(new TripleStore(ctx.fresh("warm-t"), e.spark), "warm", pages,
        e.trie, e.paramsBc, KgPipeline.Config(), Some(new EntityStore(ctx.fresh("warm-e"), e.spark)),
        Some(e.aliases))
    }

    final case class Round(seconds: Double, cpuNs: Long, triples: Long, store: TripleStore, es: EntityStore)

    def round(traced: Boolean): Round = {
      val store = new TripleStore(ctx.fresh("triples"), e.spark)
      val ents = new EntityStore(ctx.fresh("entities"), e.spark)
      val c0 = Stats.processCpuNs()
      val t0 = System.nanoTime()
      val n =
        if (traced) ctx.tracer.span("pipeline.run_incremental")(steps(ctx, e, store, ents, pages))
        else KgPipeline.runIncremental(store, "batch", pages, e.trie, e.paramsBc,
          KgPipeline.Config(), Some(ents), Some(e.aliases))
      val dt = Util.secs(System.nanoTime() - t0)
      val cpu = Stats.processCpuNs() - c0
      ctx.attempted += nPages
      if (n != expected) {
        ctx.fail(s"round committed $n triples, expected $expected")
        ctx.failed += nPages
      }
      Round(dt, cpu, n, store, ents)
    }

    // at least four rounds: JIT compilation still speeds up the first timed
    // rounds (process CPU time per round falls from ~38 s to ~25 s over the
    // first four), and co-tenant bursts slow single rounds; the median of
    // four needs two rounds moved to move. The traced run times one
    // untraced round as the overhead baseline.
    val rounds = mutable.ArrayBuffer.empty[Round]
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (rounds.isEmpty ||
        (!ctx.a.trace && (rounds.length < 4 || Util.secs(System.nanoTime() - t0) < ctx.a.seconds))) {
      rounds.lastOption.foreach(r => { Util.deleteRecursively(new File(r.store.root))
        Util.deleteRecursively(new File(r.es.root)) })
      rounds += round(traced = false)
      lookupMs ++= lookups(rounds.last.store, rounds.length)
    }
    val times = rounds.map(_.seconds).toSeq
    val med = Stats.median(times)
    ctx.e2e.put("throughput_per_s", nPages / med, "1/s")
    reportLatency(ctx, "page lookup", lookupMs.toSeq)
    ctx.say(f"batch_pages_per_s ${nPages / med}%.1f pages/s; round p50 $med%.3f s, " +
      s"rounds ${times.map(t => f"$t%.3f").mkString(" ")} s, cpu ${rounds.map(r => f"${r.cpuNs / 1e9}%.1f").mkString(" ")} s")
    cpuPerOp(ctx, "batch page", Stats.median(rounds.map(_.cpuNs.toDouble).toSeq) / nPages)
    ctx.say(f"batch_triples_per_s ${rounds.head.triples / med}%.1f triples/s " +
      f"(${rounds.length} rounds of $nPages pages, ${rounds.head.triples} triples each)")
    if (!checkStore(ctx, rounds.last.store, ctx.truth)) ctx.failed = ctx.attempted

    if (ctx.a.trace) {
      val jobs = new JobListener
      e.spark.sparkContext.addSparkListener(jobs)
      ctx.tracer.sc = Some(e.spark.sparkContext)
      var probe: Option[Stream.Pass] = None
      ctx.tracer.span("bench.kg_batch") {
        val r = round(traced = true)
        // link.dict is extra work the untraced round does not do
        val dict = ctx.tracer.spans.filter(_.name == "link.dict").map(_.durNs / 1e9).sum
        ctx.layers.put("trace.overhead_frac", (r.seconds - dict) / med - 1, "ratio")
        ctx.say(f"traced round ${r.seconds - dict}%.3f s (+ link.dict $dict%.3f s) vs untraced $med%.3f s")
        // one trigger of the stream front-end, over the first warm-up file
        val warmFile = new File(ctx.in, "warm").listFiles().filter(_.getName.endsWith(".parquet"))
          .minBy(_.getName)
        probe = Some(ctx.tracer.span("streaming.probe")(Stream.pass(ctx, e, Seq(warmFile))))
        kernels(ctx, FixtureGazetteer.trie, e.params)
      }
      ctx.tracer.sc = None
      e.spark.sparkContext.removeSparkListener(jobs)
      val probeSpan = ctx.tracer.spans.find(_.name == "streaming.probe").get
      def inProbe(j: JobRec) = j.startNs >= probeSpan.startNs && j.startNs < probeSpan.endNs
      val all = jobs.all
      Stream.layerMetrics(ctx, probe.get, all.filter(inProbe), probeSpan.id)
      val spans = ctx.tracer.spans
      def step(span: String, metric: String): Unit =
        spans.find(_.name == span).foreach(s => ctx.layers.put(metric, s.durNs / 1e9, "s"))
      step("pipeline.unprocessed", "pipeline.unprocessed_s")
      step("pipeline.analyze", "pipeline.analyze_s")
      step("link.dict", "link.dict_s")
      step("canon.same_as", "canon.same_as_s")
      step("pipeline.entity_merge", "pipeline.entity_merge_s")
      step("pipeline.store_commit", "pipeline.store_commit_s")
      val analyzeIds = spans.filter(_.name == "pipeline.analyze").map(s => s"span-${s.id}").toSet
      val skews = all.filter(j => analyzeIds(j.group) && j.taskMs.length > 1)
        .map(j => j.taskMs.max / math.max(1.0, Stats.median(j.taskMs.map(_.toDouble).toSeq)))
      if (skews.nonEmpty) ctx.layers.put("pipeline.analyze.task_skew", skews.max, "ratio")
      sparkTotals(ctx, all)
      spanJobLines(ctx, all.filterNot(inProbe))
      jobSpans(ctx, all.filterNot(inProbe), 0)
      finishTrace(ctx, spans.find(_.name == "bench.kg_batch").map(_.id).getOrElse(0))
    }
  }

  /** The public steps of `runIncremental` (entity store and aliases set),
    * each materialized inside its own span. Returns triples committed.
    */
  def steps(ctx: Ctx, e: Engine, store: TripleStore, ents: EntityStore, pages: DataFrame): Long = {
    val tr = ctx.tracer
    val batch = "batch"
    val todo = tr.span("pipeline.unprocessed") {
      val t = store.unprocessed(pages, Pred.Processed)
      t.select("url").count()
      t
    }
    val analyzed = tr.span("pipeline.analyze") {
      val a = KgPipeline.analyze(todo, e.trie, e.paramsBc, KgPipeline.Config())
        .persist(StorageLevel.MEMORY_AND_DISK)
      a.count()
      a
    }
    try {
      tr.span("pipeline.entity_merge")(ents.merge(batch, KgPipeline.surfaceRows(analyzed)))
      val markers = analyzed.toDF().select(
        col("url").as("subj"), lit(Pred.Processed).as("pred"),
        lit(batch).as("obj"), lit(1L).as("weight"), col("lang"))
      val pageT = KgPipeline.triplesFromAnalysis(analyzed, None, None, KgPipeline.Config())
      val sa = tr.span("canon.same_as") {
        val current = KgPipeline.sameAsTriples(ents.dict().toDF(), e.aliases)
        val stale = store.committedForPred(Pred.SameAs).select(col("subj"), col("obj"))
          .join(current.select(col("subj"), col("obj")), Seq("subj", "obj"), "left_anti")
          .select(col("subj")).distinct().persist(StorageLevel.MEMORY_AND_DISK)
        try { if (!stale.isEmpty) store.deleteScoped(col("pred") === Pred.SameAs, stale) }
        finally stale.unpersist(blocking = false)
        val s = current.join(store.committedForPred(Pred.SameAs).select(col("subj"), col("obj")),
          Seq("subj", "obj"), "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
        s.count()
        s
      }
      val n = tr.span("pipeline.store_commit")(
        store.commit(batch, pageT.unionByName(sa).unionByName(markers)))
      val (files, bytes) = dirStats(new File(store.root, s"data/batch=$batch"))
      ctx.layers.put("pipeline.store_commit.files", files.toDouble, "count")
      ctx.layers.put("pipeline.store_commit.mb", bytes / 1e6, "MB")
      sa.unpersist(blocking = false)
      // the dictionary a store-less incremental run builds from the same
      // analysis; with an entity store, runIncremental skips it
      tr.span("link.dict")(KgPipeline.dictFromAnalysis(analyzed).count())
      n
    } finally analyzed.unpersist(blocking = false)
  }
}

/** Streaming through `KgStream.start`: files are moved into a file-source
  * landing directory one after another and committed one file per
  * trigger into one store. The traced `kg_batch` run feeds it a warm-up
  * file, so the streaming front-end's per-trigger costs are measured.
  */
object Stream {

  final case class Pass(triggers: Seq[TriggerRec], store: TripleStore, es: EntityStore, landedMs: Seq[Long])

  /** Lands `files` in order and waits until all are committed; checks that
    * every page's `processedIn` marker names a trigger that was seen.
    */
  def pass(ctx: Ctx, e: Engine, files: Seq[File]): Pass = {
    val landing = new File(ctx.fresh("landing")); landing.mkdirs()
    val store = new TripleStore(ctx.fresh("triples"), e.spark)
    val es = new EntityStore(ctx.fresh("entities"), e.spark)
    val trig = new TriggerListener
    e.spark.streams.addListener(trig)
    val schema = e.spark.read.parquet(files.head.getPath).schema
    val src = e.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing.getPath)
    val q = KgStream.start(src, store, e.trie, e.paramsBc, ctx.fresh("ckpt"), Some(es),
      Some(e.aliases), trigger = Trigger.ProcessingTime(0L))
    val landedMs = new Array[Long](files.length)
    try {
      files.zipWithIndex.foreach { case (f, k) =>
        val tmp = new File(landing, s".${f.getName}")
        java.nio.file.Files.copy(f.toPath, tmp.toPath)
        tmp.setLastModified(System.currentTimeMillis() + k) // file order = landing order
        java.nio.file.Files.move(tmp.toPath, new File(landing, f.getName).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        landedMs(k) = System.currentTimeMillis()
      }
      q.processAllAvailable()
    } finally q.stop()
    // progress events arrive asynchronously after their trigger ends
    val deadline = System.currentTimeMillis() + 5000
    while (trig.all.count(_.rows > 0) < files.length && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    e.spark.streams.removeListener(trig)
    val triggers = trig.all.filter(_.rows > 0).sortBy(_.batchId)
    val seen = triggers.map(_.batchId).toSet
    val marks = store.committedForPred(Pred.Processed).select("obj").collect()
      .map(_.getString(0).split("-").last.toLong)
    val orphans = marks.count(b => !seen(b))
    if (marks.isEmpty || orphans > 0) ctx.fail(s"stream probe: ${marks.length} pages marked, $orphans without a trigger")
    Pass(triggers, store, es, landedMs.toSeq)
  }

  /** streaming.* and per-call-site metrics of one pass, plus its spans:
    * triggers and idle gaps under `parent`, each job under its trigger.
    */
  def layerMetrics(ctx: Ctx, p: Pass, jobs: Seq[JobRec], parent: Int): Unit = {
    val trig = p.triggers
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    ctx.layers.put("streaming.triggers", trig.length.toDouble, "count")
    ctx.layers.put("streaming.trigger_s.p50", p50(trig.map(_.triggerMs / 1e3)), "s")
    ctx.layers.put("streaming.add_batch_s.p50", p50(trig.map(_.addBatchMs / 1e3)), "s")
    ctx.layers.put("streaming.overhead_s.p50", p50(trig.map(t => (t.triggerMs - t.addBatchMs) / 1e3)), "s")
    // one file per trigger, read in landing order
    val waits = trig.zip(p.landedMs).map { case (t, landed) => math.max(0L, t.startMs - landed) / 1e3 }
    ctx.layers.put("streaming.queue_wait_s.p50", p50(waits), "s")
    if (trig.nonEmpty) {
      val span = (trig.last.endMs - p.landedMs.head) / 1e3
      ctx.layers.put("streaming.busy_frac", trig.map(_.triggerMs).sum / 1e3 / math.max(1e-9, span), "ratio")
    }
    val n = math.max(1, trig.length).toDouble
    Seq("TripleStore" -> "triplestore", "EntityStore" -> "entitystore", "KgPipeline" -> "kgpipeline")
      .foreach { case (site, key) =>
        val js = jobs.filter(_.site == site)
        ctx.layers.put(s"pipeline.$key.jobs_per_trigger", js.length / n, "count")
        ctx.layers.put(s"pipeline.$key.busy_s", js.map(j => (j.endNs - j.startNs) / 1e9).sum / n, "s")
      }
    ctx.say("stream jobs by call site: " + jobs.groupBy(_.site).toSeq.sortBy(-_._2.length)
      .map { case (s, js) => s"$s ${js.length}" }.mkString(", "))
    val st = p.store
    val (files, bytes) = dirStats(new File(st.root, "data"))
    val triples = st.committed().count()
    ctx.layers.put("pipeline.store.live_manifests_end", st.committedBatches().length.toDouble, "count")
    ctx.layers.put("pipeline.store.files_end", files.toDouble, "count")
    ctx.layers.put("pipeline.store.bytes_per_triple", bytes.toDouble / math.max(1L, triples), "B")
    ctx.layers.put("pipeline.entitystore.versions_end",
      Option(new File(p.es.root).listFiles()).map(_.count(_.getName.startsWith("v="))).getOrElse(0).toDouble,
      "count")
    val tr = ctx.tracer
    var prevEnd = p.landedMs.head * 1000000L
    trig.foreach { t =>
      val (a, b) = (t.startMs * 1000000L, t.endMs * 1000000L)
      if (a > prevEnd) tr.addDerived(parent, "streaming.idle", prevEnd, a)
      val id = tr.addDerived(parent, "streaming.trigger", a, b)
      jobs.filter(j => j.startNs >= a && j.startNs < b && j.endNs > 0)
        .foreach(j => tr.addDerived(id, s"spark.job.${j.site.toLowerCase}", j.startNs, j.endNs))
      prevEnd = b
    }
  }
}

/** api_analyze: closed loop, one client per core, each calling
  * `Api.analyzeText` back to back. No SparkSession.
  */
object ApiLoad {

  def run(ctx: Ctx): Unit = {
    val docs = Gen.readDocs(new File(ctx.in, "requests.bin"))
    val want = ctx.truth.map(t => t.url -> t.mentions.keySet).toMap
    val (trie, params) = setup(ctx)((graft.ner.TokenTrie(FixtureGazetteer.all), fixtureModel()))

    /** `perSec`: requests completed in each whole second of the load. */
    final case class Out(latNs: Array[Long], n: Int, bad: Int, perSec: Seq[Long], cpuNs: Long)

    def load(traced: Boolean, seconds: Double): Out = {
      val threads = Cores
      val outs = new Array[(Array[Long], Int, Int)](threads)
      val windows = math.max(1, seconds.toInt)
      val perSec = new java.util.concurrent.atomic.AtomicLongArray(windows + 1)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val start = System.nanoTime()
      val c0 = Stats.processCpuNs()
      val root = ctx.tracer.current
      val ts = (0 until threads).map { c =>
        new Thread(() => {
          def loop(): Unit = {
            var lat = new Array[Long](1 << 16)
            var n = 0
            var bad = 0
            var i = c * docs.length / threads
            val parent = ctx.tracer.current
            while (System.nanoTime() < deadline) {
              val d = docs(i % docs.length)
              val t0 = System.nanoTime()
              val r =
                try Some(Api.analyzeText(trie, params, d.title, d.body, d.url))
                catch { case scala.util.control.NonFatal(_) => None }
              val t1 = System.nanoTime()
              if (traced && (n & 63) == 0) ctx.tracer.addDerived(parent, "api.analyze", t0, t1)
              if (n == lat.length) lat = java.util.Arrays.copyOf(lat, n * 2)
              lat(n) = t1 - t0
              perSec.incrementAndGet(math.min(windows, ((t1 - start) / 1000000000L).toInt))
              n += 1
              if (!r.exists(x => scala.util.Try(ok(d, x)).getOrElse(false))) bad += 1
              i += 1
            }
            outs(c) = (lat.take(n), n, bad)
          }
          if (traced) ctx.tracer.span("api.client", root)(loop()) else loop()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      Out(outs.flatMap(_._1), outs.map(_._2).sum, outs.map(_._3).sum,
        (0 until windows).map(perSec.get), Stats.processCpuNs() - c0)
    }

    def ok(d: Gen.Doc, r: Api.Analysis): Boolean = {
      val full = s"${d.title}. ${d.body}"
      r.entities.map(h => s"${h.entity_text_norm}|${h.entity_type}").toSet == want(d.url) &&
        r.entities.forall(h => full.substring(h.begin_char, h.end_char).toLowerCase == h.entity_text_norm)
    }

    warmup(ctx)(load(traced = false, ApiWarmupSec))
    val o = load(traced = false, ctx.a.seconds)
    ctx.attempted = o.n.toLong
    ctx.failed = o.bad.toLong
    if (o.bad > 0) ctx.fail(s"${o.bad} of ${o.n} requests returned a wrong entity set or raised")
    val lat = o.latNs.map(_ / 1e6).toSeq
    // the median second: a burst of co-tenant load moves a few seconds, not the figure
    val rps = Stats.median(o.perSec.map(_.toDouble))
    ctx.e2e.put("throughput_per_s", rps, "1/s")
    ctx.say(s"api requests per second of the load: ${o.perSec.mkString(" ")}")
    reportLatency(ctx, "api request", lat)
    cpuPerOp(ctx, "api request", o.cpuNs.toDouble / o.n)
    ctx.say(f"api_requests_per_s $rps%.1f req/s; api_latency_p50_us ${Stats.median(lat) * 1e3}%.1f us; " +
      f"api_latency_p99_us ${Stats.percentile(lat, 99) * 1e3}%.1f us over ${o.n} requests")

    if (ctx.a.trace) {
      ctx.tracer.span("bench.api_analyze") {
        val t = load(traced = true, ctx.a.seconds)
        val tl = t.latNs.map(_ / 1e3).toSeq
        ctx.layers.put("api.request_us.p50", Stats.median(tl), "us")
        ctx.layers.put("trace.overhead_frac", Stats.median(tl) / (Stats.median(lat) * 1e3) - 1, "ratio")
        kernels(ctx, trie, params)
      }
      finishTrace(ctx, ctx.tracer.spans.find(_.name == "bench.api_analyze").map(_.id).getOrElse(0))
    }
  }
}
