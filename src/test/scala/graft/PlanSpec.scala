package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan assertions — the "would this survive 100×?" gates:
  * dimension joins must broadcast, filters must reach the parquet scan,
  * scans must prune columns, narrow stages must stay shuffle-free.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def countShuffles(p: SparkPlan): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    var n = 0
    p.foreach { case _: ShuffleExchangeLike => n += 1; case _ => () }
    n
  }

  test("q03: all three dimension joins are broadcast (no shuffled join)") {
    val p = plan("q03_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dimension joins must not sort-merge")
  }

  test("q01: the shipdate filter is pushed to the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q01: scan prunes to exactly the referenced columns") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"scan must not read unused columns: $readSchema")
  }

  test("q04/q05: anti- and semi-joins use Spark's first-class join types") {
    assert(plan("q04_anti_join").contains("LeftAnti"))
    assert(plan("q05_semi_join").contains("LeftSemi"))
  }

  test("NER + topic scoring stage is narrow: zero shuffles up to mentions") {
    import org.apache.spark.sql.functions.col
    val trie = spark.sparkContext.broadcast(graft.ner.FixtureGazetteer.trie)
    val cleaned = graft.pipeline.KgPipeline.withCleanText(
      graft.fixtures.PageGen.pages(spark, 100L).toDF())
    val mentions = graft.ner.NerExtractor.extractMentions(
      cleaned, trie, None, textCol = "clean").toDF()
    assert(countShuffles(mentions.queryExecution.executedPlan) === 0,
      "mention detection must not shuffle")
    val scored = graft.topics.TopicScorer.assignTopics(
      cleaned, spark.sparkContext.broadcast(SparkEntry.fixtureModel),
      textCol = "clean").toDF()
    assert(countShuffles(scored.queryExecution.executedPlan) === 0,
      "topic scoring must not shuffle")
  }

  test("q13 and q14 return the same rows on the sf0.001 catalog") {
    // the two queries share one oracle string, so the broadcast and the
    // salted link must agree on the catalog's documents, not only on
    // EntityLinkSpec's synthetic rows; q14's low hotThreshold puts its
    // head entities on the salted path
    def rows(q: String) =
      SparkEntry.queries(q)(spark, sf).collect().map(_.toSeq).toSeq
    val broad = rows("q13_entity_link")
    assert(broad.nonEmpty)
    assert(rows("q14_entity_link_salted") === broad)
  }

  test("entity-link broadcast join plan contains a broadcast exchange") {
    import spark.implicits._
    val mentionsDf = Seq(("u1", "biden", "PERSON", 1L))
      .toDF("url", "entity_text_norm", "entity_type", "n")
    val dict = Seq(("biden", "PERSON", 7L))
      .toDF("entity_text_norm", "entity_type", "id_entity")
    val p = graft.link.EntityLink.linkBroadcast(mentionsDf, dict)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q07 clean_text stays inside whole-stage codegen (no UDF boundary)") {
    import org.apache.spark.sql.execution.ExplainMode
    val qe = SparkEntry.queries("q07_clean_text")(spark, sf).queryExecution
    val codegen = qe.explainString(ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), codegen.take(500))
    val p = qe.executedPlan.toString
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // the whole clean chain is a single Project directly over the scan
    assert(p.contains("regexp_replace") && p.contains("FileScan parquet"), p)
  }

  test("LshIndex probe prunes to the query's (tbl, kb) partitions") {
    import spark.implicits._
    val dim = 16
    val rng = new java.util.Random(3)
    val emb = (0 until 400).map(i => (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val p = graft.ops.LshIndex.Params(bits = 8, tables = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_lshplan_").toString
    graft.ops.LshIndex.build(emb, dir, p)
    val q = Array.fill(dim)(rng.nextGaussian())
    val probe = graft.ops.LshIndex.topK(spark, dir, q, k = 5)
    probe.collect() // materialize so AQE finalizes the scan
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("vb"),
      s"vector fetch must prune on the id-bucket partitions:\n$plan")
    // the keys-side candidate read prunes on (tbl, kb)
    val keysPlan = graft.ops.LshIndex.candidateIds(spark, dir, q, None)
      .queryExecution.executedPlan.toString
    assert(keysPlan.contains("PartitionFilters:") && keysPlan.contains("tbl"),
      s"keys read must prune on (tbl, kb):\n$keysPlan")
    // keys layout sanity: tbl dirs under keys/, NO vector column in them
    val allParts = new java.io.File(s"$dir/keys").listFiles()
      .count(_.getName.startsWith("tbl="))
    assert(allParts === p.tables)
    assert(!spark.read.parquet(s"$dir/keys").columns.contains("v"),
      "keys side must not duplicate vectors (index ≈ corpus + O(ids))")
    // vectors stored exactly once
    assert(spark.read.parquet(s"$dir/vectors").count() === 400L)
    // candidates equal the one-shot path's (same plane family)
    val oneShot = graft.ops.Similarity.lshTopK(emb, q, k = 5,
      bits = p.bits, tables = p.tables, seed = p.seed)
      .as[(Long, Double)].collect().toSeq
    val indexed = probe.as[(Long, Double)].collect().toSeq
    assert(indexed === oneShot)
  }

  test("embeddingNearDup candidate stage carries no vectors (keys-only band join)") {
    import spark.implicits._
    val emb = (0 until 50).map(i => (i.toLong, Array.fill(8)((i % 5).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val cands = graft.ops.Dedup.embeddingCandidates(
      emb, graft.ops.Dedup.EmbedBits, graft.ops.Dedup.DefaultMaxBucket)
    assert(cands.columns.toSeq === Seq("id_a", "id_b"))
    // no join input/output anywhere in the candidate plan carries an array
    // column — vectors must not ride the signature explode or the band
    // self-join (VERDICT r03 #1)
    val arrayAttrs = cands.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.output ++ j.children.flatMap(_.output)
    }.flatten.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(arrayAttrs.isEmpty,
      s"vectors leaked into the candidate join: ${arrayAttrs.mkString(", ")}")
  }

  test("verifyJaccard shingles only candidate docs (semi-join below the shingle map)") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, s"doc $i text about topic number $i"))
      .toDF("doc_id", "text")
    val candidates = Seq((0L, 1L)).toDF("id_a", "id_b")
    val sets = graft.ops.Dedup.candidateShingleSets(docs, candidates, 3)
    val opt = sets.queryExecution.optimizedPlan
    val semi = opt.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semi.isDefined, s"no LeftSemi in:\n$opt")
    // POSITION matters: the semi-join must sit BELOW the shingle
    // projection (PushDownLeftSemiAntiJoin) so only candidate docs are
    // shingled — if the doc side of the join already computes xxhash64,
    // the whole corpus is being re-shingled per verify pass
    assert(!semi.get.left.toString.contains("xxhash64"),
      s"shingle computation below the candidate semi-join:\n${semi.get.left}")
    assert(sets.count() === 2L, "only candidate docs get shingled")
    // the verify stage evaluates that pruned shingle pass ONCE: the old
    // id_a/id_b join pair inlined it twice with different exchange keys
    // (ReuseExchange can't fire across them — VERDICT r04 #4); the
    // melted single-join shape leaves exactly one semi-join (= one
    // shingle subtree) in the whole verified plan
    val verified = graft.ops.Dedup.verifyJaccard(
      docs, candidates, threshold = 0.0, 3)
    val semis = verified.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.size === 1,
      s"shingle pass inlined ${semis.size} times:\n${verified.queryExecution.optimizedPlan}")
    assert(verified.select("id_a", "id_b").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 1L)))
  }

  test("q27 slice: every window is partitioned (no single-task global sort)") {
    val df = SparkEntry.queries("q27_microbatch_slice")(spark, sf)
    df.collect()
    var unpartitioned = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p.foreach {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          if (w.partitionSpec.isEmpty) unpartitioned += 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case _ => ()
      }
    }
    walk(df.queryExecution.executedPlan)
    assert(unpartitioned === 0,
      "slice must not funnel the table through one unpartitioned window task")
  }

  test("unprocessed against a store with no markers plans no join and no exchange") {
    val pagesDir = java.nio.file.Files.createTempDirectory("graft_plan_pages_").toString
    spark.range(200).selectExpr("concat('u', id) AS url", "'en' AS lang")
      .write.mode("overwrite").parquet(pagesDir)
    val store = new graft.pipeline.TripleStore(
      java.nio.file.Files.createTempDirectory("graft_plan_ts_").toString, spark)
    val todo = store.unprocessed(spark.read.parquet(pagesDir), graft.schema.Pred.Processed)
    // the empty marker side is a LocalRelation Catalyst prunes: the
    // anti-join becomes its left side instead of shuffling the pages
    val joins = todo.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, todo.queryExecution.optimizedPlan.toString)
    val executed = todo.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    assert(countShuffles(executed) === 0, executed.toString)
    assert(todo.count() === 200L)
  }

  test("spreadNarrow spreads a single-file scan to the shuffle partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_spread_").toString
    spark.range(500).selectExpr("concat('d', id) AS doc_id")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val want = spark.sessionState.conf.numShufflePartitions
    assert(scan.rdd.getNumPartitions === 1)
    assert(want > 2, s"the spread needs a session wider than 2 partitions, got $want")
    val spread = graft.util.Frames.spreadNarrow(scan, "doc_id")
    assert(spread.rdd.getNumPartitions === want)
    assert(spread.count() === 500L)
  }

  test("spreadNarrow returns a post-shuffle input unchanged") {
    val grouped = spark.range(500).selectExpr("id % 10 AS k").groupBy("k").count()
    assert(graft.util.Frames.spreadNarrow(grouped, "k") eq grouped)
  }
}
