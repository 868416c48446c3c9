package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fixtures.PageGen
import graft.ner.FixtureGazetteer
import graft.pipeline.{KgPipeline, TripleStore}
import graft.schema.Pred

/** End-to-end KG pipeline gates (north rule):
  *   - triple parity P/R ≥ 0.95 vs the generator's exact ground truth,
  *   - byte-identical extracted text per url,
  *   - kill/resume: a killed job reprocesses exactly the uncommitted
  *     pages and the union equals the single-shot run,
  *   - determinism across partitioning.
  */
class PipelineSpec extends SparkSpec {

  private val N = 240L

  private lazy val trieBc = spark.sparkContext.broadcast(FixtureGazetteer.trie)
  private lazy val paramsBc = spark.sparkContext.broadcast(SparkEntry.fixtureModel)
  private def aliases = {
    import spark.implicits._
    FixtureGazetteer.aliasPairs.toDF("norm_a", "norm_b", "entity_type")
  }

  private lazy val fullRun: DataFrame = {
    val out = SparkEntry.kgTriples(PageGen.pages(spark, N).toDF()).persist()
    out.count()
    out
  }

  /** Urls of the fixture pages whose html does not extract to their
    * `text` byte for byte (the input_hint invariant), through the call
    * the fused pass extracts with.
    */
  private def extractionMismatches: Seq[String] =
    PageGen.pages(spark, N).collect().toSeq.collect {
      case p if graft.functions.HtmlStripper.strip(
        new String(p.html, java.nio.charset.StandardCharsets.UTF_8)) != p.text => p.url
    }

  test("extracted text is byte-identical per url over the corpus") {
    assert(extractionMismatches === Nil)
  }

  test("mentions-triple parity vs ground truth: P = R = 1.0 (gate ≥ 0.95)") {
    import spark.implicits._
    val truth = PageGen.genPages(spark, N)
      .flatMap(g => g.truth_mentions.map(m => (g.url, m)))
      .toDF("url", "m").distinct()
    val got = fullRun.filter($"pred" === Pred.Mentions)
      .select($"subj".as("url"), $"obj".as("m"))
    assert(got.count() === got.distinct().count()) // one triple per (url, entity)
    val hit = got.join(truth, Seq("url", "m"), "left_semi").count().toDouble
    val p = hit / got.count()
    val r = hit / truth.count()
    assert(p >= 0.95 && r >= 0.95, s"precision=$p recall=$r")
    assert(p === 1.0 && r === 1.0)
  }

  test("exactly one hasTopic triple per page, topic in [0, k)") {
    import spark.implicits._
    val topics = fullRun.filter($"pred" === Pred.HasTopic)
    assert(topics.count() === N)
    assert(topics.select($"subj").distinct().count() === N)
    val objs = topics.select($"obj").distinct().as[String].collect()
    assert(objs.forall(o => o.startsWith("topic_") &&
      o.stripPrefix("topic_").toInt < SparkEntry.fixtureModel.k))
  }

  test("sameAs triples canonicalize exactly the alias pairs present in the corpus") {
    import spark.implicits._
    val sameAs = fullRun.filter($"pred" === Pred.SameAs)
      .select($"subj", $"obj").as[(String, String)].collect().toSet
    // aliases (norm_a ↔ norm_b) whose BOTH sides were mentioned somewhere
    val mentioned = fullRun.filter($"pred" === Pred.Mentions)
      .select($"obj").distinct().as[String].collect().toSet
    val expectedPairs = FixtureGazetteer.aliasPairs
      .map { case (a, b, t) => (s"$a|$t", s"$b|$t") }
      .filter { case (a, b) => mentioned.contains(a) && mentioned.contains(b) }
    assert(expectedPairs.nonEmpty, "fixture must exercise the sameAs path")
    // the per-pair XOR below is only valid for DISJOINT 2-node alias
    // components: edges are (non-canonical -> component-canonical), so a
    // chained alias a-b-c would emit (b,canon),(c,canon) and NEITHER
    // direction of (b,c). Pin the fixture shape here so a chain added
    // later fails with this message, not as a mysterious XOR failure.
    val aliasNorms = FixtureGazetteer.aliasPairs.flatMap { case (a, b, _) => Seq(a, b) }
    assert(aliasNorms.distinct.size === aliasNorms.size,
      "alias fixture must stay disjoint pairs for the direction check below")
    expectedPairs.foreach { case (a, b) =>
      // canonical = min entity id of the component; exactly one direction
      assert(sameAs.contains((a, b)) ^ sameAs.contains((b, a)),
        s"expected one sameAs direction for $a / $b in $sameAs")
    }
    assert(sameAs.size === expectedPairs.size)
  }

  test("null html row yields one hasTopic and no mentions") {
    import spark.implicits._
    val rows = Seq(
      ("u1", "20240101000000", null.asInstanceOf[String], "plain text", "en"),
      ("u2", "20240101000000", "<p>erik larsen spoke</p>", "erik larsen spoke", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val got = SparkEntry.kgTriples(rows)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
    def topic(url: String, text: String) = "topic_" +
      graft.topics.TopicScorer.score(SparkEntry.fixtureModel, url,
        graft.functions.Text.cleanTextScala(text)).id_topic
    assert(got === Set(
      ("u1", Pred.HasTopic, topic("u1", "")),
      ("u2", Pred.HasTopic, topic("u2", "erik larsen spoke")),
      ("u2", Pred.Mentions, "erik larsen|PERSON")))
  }

  test("runIncremental with and without aliases leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (al <- Seq(None, Some(aliases))) {
      val store = new TripleStore(Files.createTempDirectory("graft_nocache_").toString, spark)
      val es = new graft.pipeline.EntityStore(
        Files.createTempDirectory("graft_nocachee_").toString, spark)
      KgPipeline.runIncremental(store, "b1", PageGen.pages(spark, 40L).toDF(),
        trieBc, paramsBc, KgPipeline.Config(), Some(es), al)
      val rows = store.committed().collect()
      assert(rows.nonEmpty)
      assert(al.isEmpty || rows.exists(_.getString(1) == Pred.SameAs))
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        s"runIncremental(aliases = $al) must release every Dataset it persists")
    }
  }

  test("runIncremental: aliases without an entity store fail naming entityStore and commit nothing") {
    val store = new TripleStore(
      Files.createTempDirectory("graft_sa_noes_").toString, spark)
    val e = intercept[IllegalArgumentException] {
      KgPipeline.runIncremental(store, "b1", PageGen.pages(spark, 20L).toDF(),
        trieBc, paramsBc, KgPipeline.Config(), None, Some(aliases))
    }
    assert(e.getMessage.contains("entityStore"), e.getMessage)
    assert(store.committedBatches().isEmpty)
    assert(store.committed().count() === 0L)
  }

  test("incremental batches commit each sameAs edge exactly once (cumulative dict)") {
    import spark.implicits._
    val store = new TripleStore(
      Files.createTempDirectory("graft_sa_").toString, spark)
    val es = new graft.pipeline.EntityStore(
      Files.createTempDirectory("graft_sae_").toString, spark)
    val all = PageGen.pages(spark, N).toDF().persist()
    val half1 = all.filter(col("url").endsWith("0") || col("url").endsWith("1")
      || col("url").endsWith("2") || col("url").endsWith("3"))
    val half2 = all.exceptAll(half1)
    KgPipeline.runIncremental(store, "b1", half1, trieBc, paramsBc,
      KgPipeline.Config(), Some(es), Some(aliases))
    KgPipeline.runIncremental(store, "b2", half2, trieBc, paramsBc,
      KgPipeline.Config(), Some(es), Some(aliases))
    val sa = store.committed().filter(col("pred") === Pred.SameAs)
      .select("subj", "obj").as[(String, String)].collect().toSeq
    assert(sa.distinct.size === sa.size, s"duplicate sameAs edges: $sa")
    // with the CUMULATIVE dict, the committed edges equal a single-shot
    // run over the union (edges whose forms straddle batches included)
    val single = SparkEntry.kgTriples(all).filter(col("pred") === Pred.SameAs)
      .select("subj", "obj").as[(String, String)].collect().toSet
    all.unpersist()
    assert(sa.toSet === single)
  }

  test("incremental sameAs RETRACTS stale canonicals when a component merges across batches") {
    import spark.implicits._
    import graft.ner.{GazEntry, TokenTrie}
    // three single-token ORG entities forming the alias chain n1-n2-n3;
    // the entity with the SMALLEST id (xxhash64(norm, type)) must arrive
    // in batch 2 so the component's canonical CHANGES when it merges
    val norms = Seq("alphacorp", "betacorp", "gammacorp")
    val byId = norms.sortBy(n => graft.util.Hashing.xxhash64(n, "ORG"))
    val last = byId.head // smallest id → final canonical, held back to b2
    val Seq(x, y) = norms.filterNot(_ == last)
    val chain = Seq((x, y, "ORG"), (y, last, "ORG")).toDF(
      "norm_a", "norm_b", "entity_type")
    val trie = spark.sparkContext.broadcast(
      TokenTrie(norms.map(GazEntry(_, "ORG"))))
    def page(url: String, text: String) =
      Seq((url, "20240101000000", s"<p>$text</p>", text, "en"))
        .toDF("url", "warc_ts", "html", "text", "lang")
    val store = new TripleStore(
      Files.createTempDirectory("graft_sar_").toString, spark)
    val es = new graft.pipeline.EntityStore(
      Files.createTempDirectory("graft_sare_").toString, spark)
    // batch 1: only x and y exist → edge within {x,y}, canonical min(x,y)
    KgPipeline.runIncremental(store, "b1", page("u1", s"$x met $y"),
      trie, paramsBc, KgPipeline.Config(), Some(es), Some(chain))
    val sa1 = store.committed().filter(col("pred") === Pred.SameAs)
      .select("subj", "obj").as[(String, String)].collect().toSet
    assert(sa1.size === 1, s"batch 1 must canonicalize the 2-node component: $sa1")
    // batch 2 introduces the smallest-id entity → component {x,y,last},
    // canonical changes → batch 1's edge is now STALE and must be
    // retracted, not merely supplemented
    KgPipeline.runIncremental(store, "b2", page("u2", s"$last wins"),
      trie, paramsBc, KgPipeline.Config(), Some(es), Some(chain))
    val sa2 = store.committed().filter(col("pred") === Pred.SameAs)
      .select("subj", "obj").as[(String, String)].collect().toSet
    val expected = Set(
      (s"$x|ORG", s"$last|ORG"), (s"$y|ORG", s"$last|ORG"))
    assert(sa2 === expected,
      s"incremental must equal the batch canonicalization; got $sa2 " +
        s"(a leftover ${sa1.head} means stale edges were not retracted)")
    // replay of b2 is a no-op (kill-anywhere idempotence preserved)
    KgPipeline.runIncremental(store, "b2", page("u2", s"$last wins"),
      trie, paramsBc, KgPipeline.Config(), Some(es), Some(chain))
    val sa3 = store.committed().filter(col("pred") === Pred.SameAs)
      .select("subj", "obj").as[(String, String)].collect().toSet
    assert(sa3 === expected)
  }

  test("analyze: text_identical holds corpus-wide; surfaces are in-page counts") {
    import spark.implicits._
    val analyzed = KgPipeline.analyze(
      PageGen.pages(spark, N).toDF(), trieBc, paramsBc)
    assert(extractionMismatches === Nil)
    val total = analyzed.flatMap(_.surfaces.map(_.n)).reduce(_ + _)
    val truthTotal = PageGen.genPages(spark, N)
      .flatMap(_.truth_mentions).count()
    assert(total === truthTotal) // every embedded phrase counted exactly once
  }

  test("pipeline output is invariant to input partitioning") {
    import spark.implicits._
    val repart = SparkEntry.kgTriples(PageGen.pages(spark, N).toDF().repartition(13))
    val a = fullRun.select("subj", "pred", "obj", "weight")
      .as[(String, String, String, Long)].collect().toSet
    val b = repart.select("subj", "pred", "obj", "weight")
      .as[(String, String, String, Long)].collect().toSet
    assert(a === b)
  }

  test("kill/resume: retry reprocesses exactly the uncommitted pages; " +
    "union equals single-shot; completed store is a no-op") {
    import spark.implicits._
    val store = new TripleStore(
      Files.createTempDirectory("graft_resume_").toString, spark)
    val pages = PageGen.pages(spark, N).toDF()
    val batch0 = pages.filter(xxhash64($"url") % 2 === 0)

    // batch 0 commits; then a "killed" batch 1 writes data but no manifest
    val n0 = KgPipeline.runIncremental(store, "b0", batch0, trieBc, paramsBc)
    assert(n0 > 0L)
    val afterB0 = store.unprocessed(pages, Pred.Processed).count()
    assert(afterB0 === pages.count() - batch0.count(),
      "resume must see exactly the non-committed pages")

    // retry processes the remainder
    val n1 = KgPipeline.runIncremental(store, "b1", pages, trieBc, paramsBc)
    assert(n1 > 0L)
    assert(store.unprocessed(pages, Pred.Processed).count() === 0L)

    // a third run is an exact no-op (includes zero-mention pages)
    val n2 = KgPipeline.runIncremental(store, "b2", pages, trieBc, paramsBc)
    assert(n2 === 0L)

    // incremental union == single-shot (data triples, sameAs excluded:
    // canonicalization is global by design and recomputed per batch scope)
    val incr = store.committed()
      .filter($"pred" =!= Pred.Processed && $"pred" =!= Pred.SameAs)
      .select("subj", "pred", "obj", "weight")
      .as[(String, String, String, Long)].collect().toSet
    val single = fullRun
      .filter($"pred" =!= Pred.SameAs)
      .select("subj", "pred", "obj", "weight")
      .as[(String, String, String, Long)].collect().toSet
    assert(incr === single)
  }

  test("flagship entry() emits all three predicates with rows > 0") {
    import spark.implicits._
    val counts = SparkEntry.entry(spark)
      .groupBy("pred").count().as[(String, Long)].collect().toMap
    assert(counts.getOrElse(Pred.Mentions, 0L) > 0L)
    assert(counts.getOrElse(Pred.HasTopic, 0L) > 0L)
    assert(counts.getOrElse(Pred.SameAs, 0L) > 0L)
  }

  test("q31 and entry() read a committed store and return no processedIn row") {
    import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    for ((name, df) <- Seq(
        "q31" -> SparkEntry.queries("q31_kg_triples")(spark, ""),
        "entry" -> SparkEntry.entry(spark))) {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collectLeaves().exists {
        case l: LogicalRelation => l.relation match {
          case r: HadoopFsRelation => r.fileFormat.isInstanceOf[ParquetFileFormat]
          case _ => false
        }
        case _ => false
      }, s"$name: no parquet scan leaf in\n$plan")
      assert(plan.collectFirst { case m: MapPartitions => m }.isEmpty,
        s"$name: the plan still runs the fused pass over generated pages\n$plan")
      assert(df.columns.toSeq === Seq("subj", "pred", "obj", "weight", "lang"))
      assert(df.filter(col("pred") === Pred.Processed).count() === 0L, name)
    }
  }

  test("ScalingBench.runPipeline: every call on one staged dir commits the whole input") {
    val dir = Files.createTempDirectory("graft_scal_").resolve("pages").toString
    PageGen.pages(spark, 200L).toDF().write.parquet(dir)
    val expected = SparkEntry.kgTriples(spark.read.parquet(dir)).count()
    assert(expected > 200L)
    // the second call must not find the first one's markers
    assert(Seq.fill(2)(ScalingBench.runPipeline(spark, dir)) === Seq(expected, expected))
  }

  test("dictFromAnalysis equals the generic dictFromSurfaceRows (fast path parity)") {
    val spark0 = spark
    import spark0.implicits._
    val trie = spark.sparkContext.broadcast(graft.ner.FixtureGazetteer.trie)
    val params = spark.sparkContext.broadcast(SparkEntry.fixtureModel)
    val analyzed = graft.pipeline.KgPipeline.analyze(
      graft.fixtures.PageGen.pages(spark, 300L).toDF(), trie, params)
    val fast = graft.pipeline.KgPipeline.dictFromAnalysis(analyzed)
      .orderBy("entity_text_norm", "entity_type").collect().toSeq
    val generic = graft.link.EntityLink
      .dictFromSurfaceRows(graft.pipeline.KgPipeline.surfaceRows(analyzed)).toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq
    assert(fast === generic)
  }
}
