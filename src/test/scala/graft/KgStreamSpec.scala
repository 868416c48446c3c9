package graft

import java.nio.file.Files

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.fixtures.PageGen
import graft.ner.{FixtureGazetteer, TokenTrie}
import graft.pipeline.{EntityStore, KgPipeline, TripleStore}
import graft.schema.{Page, Pred}
import graft.streaming.KgStream
import graft.topics.TopicModelParams

/** Streaming front-end ≡ batch semantics: micro-batches through
  * foreachBatch land with the same triples, markers and entity
  * dictionary as a single-shot batch run; duplicate pages across
  * micro-batches are processed exactly once.
  */
class KgStreamSpec extends SparkSpec {

  /** The non-marker triples of one `runIncremental` batch over `pages`
    * into a fresh store, as sorted (subj, pred, obj, weight) strings.
    */
  private def singleShot(pages: DataFrame, trie: Broadcast[TokenTrie],
      params: Broadcast[TopicModelParams]): Seq[String] = {
    val store = new TripleStore(Files.createTempDirectory("graft_kss_").toString, spark)
    KgPipeline.runIncremental(store, "all", pages, trie, params)
    store.committed().filter(col("pred") =!= Pred.Processed)
      .select("subj", "pred", "obj", "weight")
      .collect().map(_.toString).sorted.toSeq
  }

  test("streamed micro-batches equal a single-shot batch run; cross-batch duplicates processed once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val trie = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val params = spark.sparkContext.broadcast(SparkEntry.fixtureModel)
    val store = new TripleStore(Files.createTempDirectory("graft_ks_").toString, spark)
    val es = new EntityStore(Files.createTempDirectory("graft_ke_").toString, spark)
    val all = (0L until 90L).map { i =>
      val g = PageGen.generate(i)
      Page(g.url, g.warc_ts, g.html, g.text, g.lang)
    }

    val source = MemoryStream[Page]
    val q = KgStream.start(source.toDF(), store, trie, params,
      Files.createTempDirectory("graft_kckpt_").toString,
      entityStore = Some(es),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      source.addData(all.take(40))
      q.processAllAvailable()
      // second micro-batch OVERLAPS the first (pages 20-40 re-sent)
      source.addData(all.slice(20, 90))
      q.processAllAvailable()
    } finally q.stop()

    val got = store.committed()
      .filter(col("pred") =!= Pred.Processed)
      .select("subj", "pred", "obj", "weight")
      .collect().map(_.toString).sorted.toSeq
    val single = singleShot(all.toDF(), trie, params)
    assert(got === single)
    // exactly one marker per page despite the overlapping micro-batch
    val markers = store.committed().filter(col("pred") === Pred.Processed)
    assert(markers.count() === 90L)
    assert(markers.select("subj").distinct().count() === 90L)
    // entity dictionary merged across micro-batches equals full recompute
    val analyzedAll = KgPipeline.analyze(all.toDF(), trie, params)
    val oracle = graft.link.EntityLink
      .dictFromSurfaceRows(KgPipeline.surfaceRows(analyzedAll)).toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq
    assert(es.dict().toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq === oracle)
  }

  test("long-running stream: auto-compaction bounds manifests, triples and markers intact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val trie = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val params = spark.sparkContext.broadcast(SparkEntry.fixtureModel)
    val root = Files.createTempDirectory("graft_ksc_").toString
    val store = new TripleStore(root, spark)
    val all = (100L until 160L).map { i =>
      val g = PageGen.generate(i)
      Page(g.url, g.warc_ts, g.html, g.text, g.lang)
    }
    val source = MemoryStream[Page]
    // tight compaction budget so the policy actually exercises: 30
    // micro-batches, never more than ~6 live manifests
    val q = KgStream.start(source.toDF(), store, trie, params,
      Files.createTempDirectory("graft_kckpt2_").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactMaxLive = 6, compactFanIn = 4)
    try {
      all.grouped(2).foreach { mb => // 30 micro-batches of 2 pages
        source.addData(mb)
        q.processAllAvailable()
      }
    } finally q.stop()
    // live manifest count is bounded by the policy, not the batch count
    val live = store.committedBatches()
    assert(live.size <= 6, s"${live.size} live manifests: $live")
    // committed triples equal a single-shot batch run (compaction loses
    // and duplicates nothing)
    val got = store.committed()
      .filter(col("pred") =!= Pred.Processed)
      .select("subj", "pred", "obj", "weight")
      .collect().map(_.toString).sorted.toSeq
    val single = singleShot(all.toDF(), trie, params)
    assert(got === single)
    // markers survive the folds: nothing is re-processable
    assert(store.unprocessed(all.toDF(), Pred.Processed).count() === 0L)
    assert(store.committed().filter(col("pred") === Pred.Processed)
      .select("subj").distinct().count() === 60L)

    // RESTART with a FRESH checkpoint: epoch ids reset to 0, and the old
    // stream's batch ids are dead (compacted away) — the namespaced ids
    // must keep the store ingestable (a bare "stream-00000000" would be
    // rejected as superseded and wedge the stream forever)
    val more = (160L until 166L).map { i =>
      val g = PageGen.generate(i)
      Page(g.url, g.warc_ts, g.html, g.text, g.lang)
    }
    val source2 = MemoryStream[Page]
    val q2 = KgStream.start(source2.toDF(), store, trie, params,
      Files.createTempDirectory("graft_kckpt3_").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactMaxLive = 6, compactFanIn = 4)
    try {
      source2.addData(more)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(store.committed().filter(col("pred") === Pred.Processed)
      .select("subj").distinct().count() === 66L,
      "fresh-checkpoint restart must ingest new pages")
  }

  test("startAssign: run-scoped streaming assignment is exactly-once across re-delivering micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val store = new TripleStore(Files.createTempDirectory("graft_ksa_").toString, spark)
    def assign(in: org.apache.spark.sql.DataFrame) =
      in.select(col("url"), col("lang"),
        pmod(col("url").cast("long"), lit(3)).cast("int").as("id_topic"))
    val source = MemoryStream[(String, String, String)]
    val q = KgStream.startAssign(
      source.toDF().toDF("url", "lang", "clean"), store, "runA", assign,
      Files.createTempDirectory("graft_kckpt5_").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      source.addData((0 until 6).map(i => (i.toString, "en", s"text $i")))
      q.processAllAvailable()
      // second micro-batch RE-delivers 0-5 and adds 6-9: the checkpointed
      // anti-join must assign only the new pages
      source.addData((0 until 10).map(i => (i.toString, "en", s"text $i")))
      q.processAllAvailable()
      // third is pure re-delivery: nothing new to assign, no new commit
      source.addData((0 until 10).map(i => (i.toString, "en", s"text $i")))
      q.processAllAvailable()
    } finally q.stop()

    val topics = store.committed()
      .filter(col("pred") === Pred.hasTopicFor("runA"))
      .select(col("subj").cast("long").as("u"), col("obj"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    assert(topics === (0L until 10L).map(i => i -> s"topic_${i % 3}"))
    // marker obj = the FIRST batch that saw the page: 0-5 from epoch 0,
    // 6-9 from epoch 1 (namespaced ids end with the epoch number)
    val markers = store.committed()
      .filter(col("pred") === Pred.processedFor("runA"))
      .select(col("subj").cast("long").as("u"), col("obj"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(markers.size === 10)
    markers.foreach { case (u, b) =>
      val epoch = if (u < 6) "00000000" else "00000001"
      assert(b.startsWith("stream-") && b.endsWith(epoch),
        s"url $u marker batch $b should come from epoch $epoch")
    }
    // the pure-duplicate third trigger committed nothing
    assert(store.committedBatches().size === 2)
  }

  test("compaction parameters autoCompact would reject fail start, before any commit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val trie = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val params = spark.sparkContext.broadcast(SparkEntry.fixtureModel)
    val store = new TripleStore(Files.createTempDirectory("graft_ksv_").toString, spark)
    val source = MemoryStream[Page]
    val g = PageGen.generate(0L)
    source.addData(Page(g.url, g.warc_ts, g.html, g.text, g.lang))
    def ckpt() = Files.createTempDirectory("graft_kckptv_").toString
    for ((maxLive, fanIn, param) <- Seq((1, 8, "compactMaxLive"), (16, 1, "compactFanIn"),
        (16, 0, "compactFanIn"))) {
      val e1 = intercept[IllegalArgumentException] {
        KgStream.start(source.toDF(), store, trie, params, ckpt(),
          compactMaxLive = maxLive, compactFanIn = fanIn).stop()
      }
      assert(e1.getMessage.contains(param), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        KgStream.startAssign(source.toDF().select($"url", $"lang", $"text".as("clean")),
          store, "r1", identity, ckpt(), compactMaxLive = maxLive, compactFanIn = fanIn).stop()
      }
      assert(e2.getMessage.contains(param), e2.getMessage)
    }
    assert(store.committedBatches().isEmpty)
  }
}
