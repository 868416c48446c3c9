package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.fixtures.PageGen
import graft.ner.{FixtureGazetteer, GazEntry, TokenTrie}
import graft.pipeline.{EntityStore, KgPipeline, TripleStore}
import graft.schema.Pred

/** sameAs in `runIncremental`: the committed set tracks a batch run over
  * every page seen so far, its Spark job budget, and its driver bound.
  */
class SameAsSpec extends SparkSpec {

  /** Jobs one `runIncremental` batch with aliases and an entity store may
    * launch, into stores that already hold a batch (measured: 15; the
    * distributed sameAs step ran 31).
    */
  private val BatchJobBudget = 15L

  private lazy val paramsBc = spark.sparkContext.broadcast(SparkEntry.fixtureModel)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def sameAsOf(triples: DataFrame): Set[(String, String)] = {
    import spark.implicits._
    triples.filter(col("pred") === Pred.SameAs)
      .select("subj", "obj").as[(String, String)].collect().toSet
  }

  test("incremental sameAs equals a batch run over the union after every seeded batch") {
    import spark.implicits._
    def id(norm: String, tpe: String) = graft.util.Hashing.xxhash64(norm, tpe)
    val orgs = Seq("alphacorp", "betacorp", "gammacorp", "deltacorp", "epsiloncorp",
      "zetacorp", "etacorp", "thetacorp")
    val gpes = Seq("northland", "southland", "eastland")
    // a 4-chain whose min-id entity is an END of the chain and arrives in
    // the last batch, after the other three: the component's canonical
    // changes when it merges, so the retraction runs
    val chain = orgs.take(4).sortBy(id(_, "ORG")).reverse
    val aliasRows =
      chain.sliding(2).map { case Seq(a, b) => (a, b, "ORG") }.toSeq ++ Seq(
        ("epsiloncorp", "zetacorp", "ORG"),
        ("etacorp", "nevercorp", "ORG"), // one endpoint is never mentioned
        ("northland", "southland", "GPE"), ("southland", "eastland", "GPE"),
        ("thetacorp", "northland", "ORG")) // a type the text never carries
    val aliases = aliasRows.toDF("norm_a", "norm_b", "entity_type")
    val trie = spark.sparkContext.broadcast(TokenTrie(
      orgs.map(GazEntry(_, "ORG")) ++ gpes.map(GazEntry(_, "GPE"))))
    val minOfChain = chain.last
    val mentioned = orgs.map((_, "ORG")) ++ gpes.map((_, "GPE"))
    def oracle(seen: Set[(String, String)]): Set[(String, String)] = {
      val edges = aliasRows.collect { case (a, b, t) if seen((a, t)) && seen((b, t)) =>
        (id(a, t), id(b, t))
      }.toArray
      val keyOf = seen.map { case (n, t) => id(n, t) -> s"$n|$t" }.toMap
      ConnectedComponents.unionFind(edges).collect {
        case (node, comp) if node != comp => (keyOf(node), keyOf(comp))
      }.toSet
    }
    var retractions = 0
    for (seed <- Seq(11L, 907L)) {
      val rng = new scala.util.Random(seed)
      val nBatches = 5
      // one page per entity, plus entity-free pages; each lands in a
      // random batch, except the chain: its min-id entity lands in the last
      // batch and the other three in random earlier ones
      val pages = mentioned.zipWithIndex.map { case ((n, _), i) =>
        val b =
          if (n == minOfChain) nBatches - 1
          else if (chain.contains(n)) rng.nextInt(nBatches - 1)
          else rng.nextInt(nBatches)
        (b, s"s$seed-u$i", s"news about $n today")
      } ++ (0 until nBatches).map(b => (b, s"s$seed-plain$b", "nothing to see here"))
      val store = new TripleStore(tmp("graft_sad_"), spark)
      val es = new EntityStore(tmp("graft_sade_"), spark)
      var prev = Set.empty[(String, String)]
      for (b <- 0 until nBatches) {
        def frame(rows: Seq[(Int, String, String)]) = rows
          .map { case (_, url, text) => (url, "20240101000000", s"<p>$text</p>", text, "en") }
          .toDF("url", "warc_ts", "html", "text", "lang")
        KgPipeline.runIncremental(store, s"b$b", frame(pages.filter(_._1 == b)),
          trie, paramsBc, KgPipeline.Config(), Some(es), Some(aliases))
        val got = sameAsOf(store.committed())
        val union = pages.filter(_._1 <= b)
        val batchRun = sameAsOf(KgPipeline.run(frame(union), trie, paramsBc, Some(aliases)))
        assert(got === batchRun, s"seed $seed batch $b")
        val seen = mentioned.filter { case (n, _) =>
          union.exists(_._3.contains(s" $n "))
        }.toSet
        assert(got === oracle(seen), s"seed $seed batch $b")
        val rows = store.committed().filter(col("pred") === Pred.SameAs).count()
        assert(rows === got.size.toLong, s"seed $seed batch $b: a sameAs row is duplicated")
        if (!prev.subsetOf(got)) retractions += 1
        prev = got
      }
      assert(prev.map(_._2).contains(s"$minOfChain|ORG"), prev)
    }
    assert(retractions >= 2, "each seed must retract a stale canonical at least once")
  }

  test("one runIncremental batch with aliases stays within its Spark job budget") {
    import spark.implicits._
    val trieBc = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val aliases = FixtureGazetteer.aliasPairs.toDF("norm_a", "norm_b", "entity_type")
    val all = PageGen.pages(spark, 240L).toDF()
    val store = new TripleStore(tmp("graft_sab_"), spark)
    val es = new EntityStore(tmp("graft_sabe_"), spark)
    KgPipeline.runIncremental(store, "b1", all.filter(xxhash64($"url") % 2 === 0),
      trieBc, paramsBc, KgPipeline.Config(), Some(es), Some(aliases))
    var n = 0L
    val (jobs, _) = sparkActivity {
      n = KgPipeline.runIncremental(store, "b2", all.filter(xxhash64($"url") % 2 =!= 0),
        trieBc, paramsBc, KgPipeline.Config(), Some(es), Some(aliases))
    }
    assert(n > 0L)
    assert(sameAsOf(store.committed()).nonEmpty)
    // the distributed step ran 31: an endpoint localCheckpoint, runAuto's
    // dedupe/persist/count/collect, broadcast joins, the stale isEmpty, a
    // second committed read and the sameAs plan again inside the commit
    assert(jobs <= BatchJobBudget, s"the batch launched $jobs jobs, budget $BatchJobBudget")
  }

  test("an alias table above the driver bound fails naming it, and neither store changes") {
    import spark.implicits._
    def files(root: String): Set[String] = {
      val base = java.nio.file.Paths.get(root)
      val walk = Files.walk(base)
      try walk.iterator().asScala.map(p => base.relativize(p).toString).toSet
      finally walk.close()
    }
    val trieBc = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val (tsRoot, esRoot) = (tmp("graft_sabd_"), tmp("graft_sabde_"))
    val store = new TripleStore(tsRoot, spark)
    val es = new EntityStore(esRoot, spark)
    val pages = PageGen.pages(spark, 40L).toDF()
    val small = FixtureGazetteer.aliasPairs.toDF("norm_a", "norm_b", "entity_type")
    KgPipeline.runIncremental(store, "b1", pages.filter($"url".endsWith("1")),
      trieBc, paramsBc, KgPipeline.Config(), Some(es), Some(small))
    val (tsFiles, esFiles) = (files(tsRoot), files(esRoot))
    val bound = ConnectedComponents.DriverMaxEdges
    // counted on the executors, never collected
    val big = spark.range(bound + 1).select(
      concat(lit("a"), $"id".cast("string")).as("norm_a"),
      concat(lit("b"), $"id".cast("string")).as("norm_b"), lit("ORG").as("entity_type"))
    val e = intercept[IllegalArgumentException] {
      KgPipeline.runIncremental(store, "b2", pages, trieBc, paramsBc,
        KgPipeline.Config(), Some(es), Some(big))
    }
    assert(e.getMessage.contains(s"${bound + 1} rows") &&
      e.getMessage.contains(s"bound of $bound"), e.getMessage)
    assert(files(tsRoot) === tsFiles)
    assert(files(esRoot) === esFiles)
    assert(store.committedBatches() === Seq("b1"))
    assert(es.mergedBatches() === Set("b1"))
    val e2 = intercept[IllegalArgumentException](KgPipeline.sameAsTriples(es.keys(), big))
    assert(e2.getMessage === e.getMessage)
  }
}
