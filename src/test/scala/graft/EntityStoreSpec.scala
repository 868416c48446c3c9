package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{EntityStore, KgPipeline, TripleStore}
import graft.fixtures.PageGen
import graft.ner.FixtureGazetteer
import graft.schema.Pred

/** Persistent entity dictionary with cross-batch MERGE (reference
  * `ner_extractor/db_io.py:64-121` + `jobs/ner_extractor_inference_job
  * .py:67-83`, with SURVEY §2.9 #1's deterministic-id fix), and the
  * run-scoped incremental assignment dimension (J1 `id_run` parity,
  * `topics_detector/db_io.py:389-413`).
  */
class EntityStoreSpec extends SparkSpec {

  /** Jobs one merge into a non-empty store may launch (measured: 7; the two-table merge ran 12). */
  private val MergeJobBudget = 7L

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(xs: (String, String, String, String, Long)*) = {
    import spark.implicits._
    xs.toDF("url", "entity_text_norm", "entity_type", "entity_text", "n")
  }

  test("two merged batches equal a full recompute over the union") {
    val es = new EntityStore(tmp("graft_es_"), spark)
    val b1 = rows(
      ("u1", "spark", "ORG", "Spark", 2L),
      ("u1", "spark", "ORG", "SPARK", 1L),
      ("u2", "spark", "ORG", "Spark", 1L))
    val b2 = rows(
      ("u3", "spark", "ORG", "SPARK", 3L), // flips the modal surface form
      ("u3", "paris", "GPE", "Paris", 1L))
    assert(es.merge("b1", b1))
    assert(es.merge("b2", b2))
    val full = graft.link.EntityLink
      .dictFromSurfaceRows(b1.unionByName(b2)).toDF()
      .orderBy("entity_text_norm", "entity_type")
      .collect().toSeq
    val merged = es.dict().toDF()
      .orderBy("entity_text_norm", "entity_type")
      .collect().toSeq
    assert(merged === full)
    // late batch flipped the modal form exactly as a recompute would
    val sparkRow = es.dict().filter(col("entity_text_norm") === "spark").head()
    assert(sparkRow.entity_text === "SPARK")
    assert(sparkRow.entity_mentions_count === 7L)
    assert(sparkRow.news_count === 3L)
  }

  test("merge is idempotent per batch id (retry no-op)") {
    val es = new EntityStore(tmp("graft_es_"), spark)
    val b1 = rows(("u1", "spark", "ORG", "Spark", 2L))
    assert(es.merge("b1", b1))
    val before = es.dict().collect().toSeq
    assert(!es.merge("b1", b1)) // retry
    assert(!es.merge("b1", rows(("u9", "other", "ORG", "Other", 9L)))) // even with drift
    assert(es.dict().collect().toSeq === before)
  }

  test("runIncremental maintains the dictionary across batches; kill between merge and commit resumes exactly") {
    import spark.implicits._
    val store = new TripleStore(tmp("graft_ts_"), spark)
    val es = new EntityStore(tmp("graft_es_"), spark)
    val trie = spark.sparkContext.broadcast(FixtureGazetteer.trie)
    val params = spark.sparkContext.broadcast(SparkEntry.fixtureModel)
    val all = PageGen.pages(spark, 120L).toDF()
    val p1 = all.filter(xxhash64(col("url")) % 2 === 0)
    KgPipeline.runIncremental(store, "b1", p1, trie, params,
      entityStore = Some(es))
    // simulate a crash AFTER the dict merge but BEFORE the triple commit
    // of b2: merge directly, leave no markers
    val analyzed2 = KgPipeline.analyze(
      store.unprocessed(all, Pred.Processed), trie, params)
    es.merge("b2", KgPipeline.surfaceRows(analyzed2))
    // retry of b2 must no-op the merge and commit the same pages
    KgPipeline.runIncremental(store, "b2", all, trie, params,
      entityStore = Some(es))
    // dictionary equals a single-shot recompute over ALL pages
    val analyzedAll = KgPipeline.analyze(all, trie, params)
    val oracle = graft.link.EntityLink
      .dictFromSurfaceRows(KgPipeline.surfaceRows(analyzedAll)).toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq
    val got = es.dict().toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq
    assert(got === oracle)
    assert(es.mergedBatches() === Set("b1", "b2"))
    // and every page is marked processed exactly once
    val markers = store.committed().filter(col("pred") === Pred.Processed)
    assert(markers.count() === 120L)
    assert(markers.select("subj").distinct().count() === 120L)
  }

  test("run-scoped incremental: a new run re-assigns, the old run is preserved") {
    import spark.implicits._
    val store = new TripleStore(tmp("graft_ts_"), spark)
    val docs = (0L until 40L).map(i => (s"u$i", "en", s"text $i"))
      .toDF("url", "lang", "clean")
    val firstHalf = docs.filter(xxhash64(col("url")) % 2 === 0)
    def assignMod(m: Int)(in: org.apache.spark.sql.DataFrame) =
      in.select(col("url"), col("lang"),
        pmod(xxhash64(col("url")), lit(m)).cast("int").as("id_topic"))
    // run1 lands in two batches; second input OVERLAPS the first
    KgPipeline.assignTopicsIncremental(store, "r1b1", "run1", firstHalf, assignMod(5))
    KgPipeline.assignTopicsIncremental(store, "r1b2", "run1", docs, assignMod(5))
    // run2 (a new model) re-assigns EVERYTHING despite run1's markers
    KgPipeline.assignTopicsIncremental(store, "r2b1", "run2", docs, assignMod(3))
    val byPred = store.committed().groupBy("pred").count()
      .as[(String, Long)].collect().toMap
    assert(byPred(Pred.hasTopicFor("run1")) === 40L)
    assert(byPred(Pred.hasTopicFor("run2")) === 40L)
    // each url assigned exactly once per run (no overlap reprocessing)
    val r1 = store.committed().filter(col("pred") === Pred.hasTopicFor("run1"))
    assert(r1.select("subj").distinct().count() === 40L)
    // batch lineage: overlapped urls carry the FIRST batch's marker
    val m1 = store.committed()
      .filter(col("pred") === Pred.processedFor("run1") && col("obj") === "r1b1")
    assert(m1.count() === firstHalf.count())
  }

  test("overwriteTopics: scoped delete + recompute changes only in-scope pages of that run") {
    import spark.implicits._
    val store = new TripleStore(tmp("graft_ts_"), spark)
    val docs = (0L until 30L).map(i => (s"u$i", "en", s"text $i"))
      .toDF("url", "lang", "clean")
    def assign(m: Int)(in: org.apache.spark.sql.DataFrame) =
      in.select(col("url"), col("lang"),
        pmod(xxhash64(col("url")), lit(m)).cast("int").as("id_topic"))
    KgPipeline.assignTopicsIncremental(store, "b1", "run1", docs, assign(5))
    KgPipeline.assignTopicsIncremental(store, "b2", "run2", docs, assign(5))
    val scope = docs.filter(xxhash64(col("url")) % 3 === 0)
    // overwrite run1's assignments for the scope with a DIFFERENT model
    KgPipeline.overwriteTopics(store, "b3", "run1", scope, assign(2))
    val run1 = store.committed().filter(col("pred") === Pred.hasTopicFor("run1"))
      .select(col("subj"), col("obj")).as[(String, String)].collect().toMap
    val scopeUrls = scope.select("url").as[String].collect().toSet
    docs.select("url").as[String].collect().foreach { u =>
      val expectMod = if (scopeUrls.contains(u)) 2 else 5
      val topic = s"topic_${math.floorMod(graft.util.Hashing.xxhash64(u), expectMod.toLong)}"
      assert(run1(u) === topic, s"url $u run1")
    }
    // run2 untouched by run1's overwrite
    assert(store.committed().filter(col("pred") === Pred.hasTopicFor("run2"))
      .count() === 30L)
  }

  test("merge rewrites only dirty buckets; clean buckets ride forward as links") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_esb_").toString
    val es = new EntityStore(root, spark)
    // batch 1 populates many buckets
    val b1 = (0 until 200).map(i => (s"u$i", s"ent$i", "ORG", s"Ent$i", 1L))
      .toDF("url", "entity_text_norm", "entity_type", "entity_text", "n")
    assert(es.merge("b1", b1))
    // batch 2 touches exactly ONE norm → one dirty bucket
    val b2 = Seq(("u900", "ent0", "ORG", "Ent0", 5L))
      .toDF("url", "entity_text_norm", "entity_type", "entity_text", "n")
    assert(es.merge("b2", b2))
    val v1 = java.nio.file.Paths.get(root, "v=1", "entities")
    val v2 = java.nio.file.Paths.get(root, "v=2", "entities")
    val dirtyBucket = math.floorMod(
      graft.util.Hashing.xxhash64("ent0"), EntityStore.dictBuckets.toLong).toInt
    // every clean bucket file in v2 is the SAME inode as v1's (hard link)
    // Files.list returns a stream over an OPEN DirectoryStream — close it
    // (an unclosed one holds an fd until GC; the suite shares one JVM
    // with Spark's own fd appetite)
    def listDir(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val st = java.nio.file.Files.list(d)
      try st.toArray.toSeq.map(x => java.nio.file.Paths.get(x.toString))
      finally st.close()
    }
    var linked = 0
    listDir(v2)
      .filter(_.getFileName.toString.startsWith("bucket=")).foreach { d =>
        val k = d.getFileName.toString.stripPrefix("bucket=").toInt
        if (k != dirtyBucket) {
          listDir(d)
            .filter(_.toString.endsWith(".parquet")).foreach { f =>
              val twin = v1.resolve(d.getFileName.toString).resolve(f.getFileName)
              assert(java.nio.file.Files.exists(twin), s"$twin")
              val k1 = java.nio.file.Files.readAttributes(
                f, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
              val k2 = java.nio.file.Files.readAttributes(
                twin, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
              assert(k1 === k2, s"clean bucket $k was rewritten, not linked")
              linked += 1
            }
        }
      }
    assert(linked > 0, "expected clean buckets to exist")
    // values still equal the full recompute
    val oracle = graft.link.EntityLink
      .dictFromSurfaceRows(b1.unionByName(b2)).toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq
    assert(es.dict().toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq === oracle)
  }

  test("version GC: many merges keep O(retain) version dirs; dict and idempotence intact") {
    val root = tmp("graft_esgc_")
    val es = new EntityStore(root, spark)
    val all = (1 to 10).map { i =>
      rows((s"u$i", s"e${i % 3}", "ORG", s"E${i % 3}", i.toLong))
    }
    all.zipWithIndex.foreach { case (b, i) => assert(es.merge(s"b$i", b)) }
    // a stream merging forever must not accumulate a dir per batch
    val vDirs = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("v=")).map(_.getName).sorted
    assert(vDirs.toSeq === Seq("v=10", "v=9"), vDirs.mkString(", "))
    // the dictionary equals a single-shot recompute over the union
    val union = all.reduce(_ unionByName _)
    val full = graft.link.EntityLink.dictFromSurfaceRows(union).toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq
    assert(es.dict().toDF()
      .orderBy("entity_text_norm", "entity_type").collect().toSeq === full)
    // batch-id idempotence survives pruning (ids ride the CURRENT version)
    assert(!es.merge("b3", all(3)))
    assert(es.mergedBatches().size === 10)
  }

  test("version GC sweeps dirs stranded below a crash gap, not just the contiguous tail") {
    val root = tmp("graft_esgap_")
    val es = new EntityStore(root, spark)
    for (i <- 1 to 4)
      es.merge(s"b$i", rows(("u" + i, s"ent$i", "ORG", s"Ent$i", 1L)))
    // crash simulation: an interrupted earlier prune deleted v=2 but
    // died before v=1 — recreate the stranded dir below the gap
    val v1 = java.nio.file.Paths.get(root, "v=1")
    Files.createDirectories(v1)
    Files.writeString(v1.resolve("stranded"), "x")
    assert(!Files.exists(java.nio.file.Paths.get(root, "v=2")))
    es.merge("b5", rows(("u5", "ent5", "ORG", "Ent5", 1L)))
    // a downward walk would stop at missing v=2 and leak v=1 forever
    assert(!Files.exists(v1), "version dir below the gap must be GC'd")
    assert(!Files.exists(java.nio.file.Paths.get(root, "v=3")))
    assert(Files.exists(java.nio.file.Paths.get(root, "v=4")))
    assert(Files.exists(java.nio.file.Paths.get(root, "v=5")))
  }

  test("batch history window: ids inside the window no-op, older ids fall out (documented contract)") {
    val es = new EntityStore(tmp("graft_eswin_"), spark, batchHistory = 2)
    assert(es.merge("b1", rows(("u1", "e", "ORG", "E", 1L))))
    assert(es.merge("b2", rows(("u2", "e", "ORG", "E", 1L))))
    assert(es.merge("b3", rows(("u3", "e", "ORG", "E", 1L))))
    assert(es.mergedBatches() === Set("b2", "b3"),
      "window keeps the 2 most recent ids")
    assert(!es.merge("b3", rows(("u3", "e", "ORG", "E", 1L))),
      "replay inside the window must no-op")
    assert(!es.merge("b2", rows(("u2", "e", "ORG", "E", 1L))))
    // b1 fell out of the window: the contract says such a replay is NOT
    // deduped (orchestrators must not replay beyond the window)
    assert(es.merge("b1", rows(("u1", "e", "ORG", "E", 1L))))
  }

  test("merge is associative: any url-disjoint split of the corpus gives the same dictionary") {
    import spark.implicits._
    val all = (0 until 120).map { i =>
      (s"u$i", s"ent${i % 17}", if (i % 3 == 0) "ORG" else "PERSON",
        s"Ent${i % 17}${if (i % 5 == 0) "X" else ""}", (i % 4 + 1).toLong)
    }.toDF("url", "entity_text_norm", "entity_type", "entity_text", "n")
    val oracle = graft.link.EntityLink.dictFromSurfaceRows(all).toDF()
      .orderBy("entity_text_norm", "entity_type", "entity_text").collect().toSeq
    for (ways <- Seq(2, 3, 5)) {
      val es = new EntityStore(tmp(s"graft_esa${ways}_"), spark)
      (0 until ways).foreach { w =>
        es.merge(s"b$w", all.filter(pmod(xxhash64(col("url")), lit(ways)) === w))
      }
      val got = es.dict().toDF()
        .orderBy("entity_text_norm", "entity_type", "entity_text").collect().toSeq
      assert(got === oracle, s"$ways-way split")
    }
  }

  private def sortedDict(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("entity_text_norm", "entity_type").collect().toSeq

  test("a store in the old two-table layout reads, replays, and merges into the one-table layout") {
    import spark.implicits._
    val root = tmp("graft_eslegacy_")
    val b1 = rows(
      (("u1", "spark", "ORG", "Spark", 2L) +: ("u1", "spark", "ORG", "SPARK", 1L) +:
        ("u2", "spark", "ORG", "Spark", 1L) +:
        (0 until 12).map(i => (s"u${i % 3}", s"ent$i", "ORG", s"Ent$i", 1L))): _*)
    val b2 = rows(("u3", "spark", "ORG", "SPARK", 3L), ("u3", "paris", "GPE", "Paris", 1L))
    // v=1 exactly as the two-table writer left it: `surfaces` and `news`,
    // each hash-bucketed on the norm, plus the pointer and batch history
    def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn("bucket",
      pmod(xxhash64($"entity_text_norm"), lit(EntityStore.dictBuckets)).cast("int"))
    bucketed(b1.groupBy($"entity_text_norm", $"entity_type", $"entity_text")
        .agg(sum($"n").as("surface_count")))
      .write.partitionBy("bucket").parquet(s"$root/v=1/surfaces")
    bucketed(b1.select($"entity_text_norm", $"entity_type", $"url").distinct()
        .groupBy($"entity_text_norm", $"entity_type").agg(count(lit(1)).as("news_count")))
      .write.partitionBy("bucket").parquet(s"$root/v=1/news")
    Files.writeString(java.nio.file.Paths.get(root, "v=1", "_batches"), "b1\n")
    Files.writeString(java.nio.file.Paths.get(root, "_latest"), "1")
    val es = new EntityStore(root, spark)
    val oracle1 = sortedDict(graft.link.EntityLink.dictFromSurfaceRows(b1).toDF())
    assert(sortedDict(es.dict().toDF()) === oracle1)
    assert(!es.merge("b1", b1), "a replay of the old version's batch must no-op")
    assert(sortedDict(es.dict().toDF()) === oracle1)
    assert(es.merge("b2", b2))
    assert(sortedDict(es.dict().toDF()) ===
      sortedDict(graft.link.EntityLink.dictFromSurfaceRows(b1.unionByName(b2)).toDF()))
    // the first merge rewrote every bucket (clean ones included) as `entities`
    assert(Files.exists(java.nio.file.Paths.get(root, "v=2", "entities")))
    assert(!Files.exists(java.nio.file.Paths.get(root, "v=2", "surfaces")))
    assert(!Files.exists(java.nio.file.Paths.get(root, "v=2", "news")))
    assert(es.mergedBatches() === Set("b1", "b2"))
  }

  test("keys() lists every entity of the store once") {
    val es = new EntityStore(tmp("graft_eskeys_"), spark)
    val b = rows(("u1", "spark", "ORG", "Spark", 2L), ("u1", "spark", "ORG", "SPARK", 1L),
      ("u2", "paris", "GPE", "Paris", 1L))
    assert(es.merge("b1", b))
    assert(es.merge("b2", rows(("u3", "spark", "ORG", "Spark", 1L))))
    val keys = es.keys().collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(keys === Seq(("paris", "GPE"), ("spark", "ORG")))
  }

  test("merge into a non-empty store stays inside its job budget") {
    val es = new EntityStore(tmp("graft_esjobs_"), spark)
    assert(es.merge("b1", rows((0 until 40).map(i => (s"u$i", s"ent$i", "ORG", s"Ent$i", 1L)): _*)))
    val b2 = rows(("u90", "ent1", "ORG", "Ent1", 2L), ("u91", "ent2", "ORG", "ENT2", 1L),
      ("u91", "new", "ORG", "New", 1L))
    val (jobs, _) = sparkActivity(assert(es.merge("b2", b2)))
    // the two-table merge ran 12 jobs (two delta aggregations, a groupBy
    // shuffle plus a repartition shuffle per table, two writes); the
    // one-table merge aggregates the delta once and writes once
    assert(jobs <= MergeJobBudget, s"merge launched $jobs jobs, budget $MergeJobBudget")
  }

  test("sameAsTriples over a parquet-backed dictionary scans it once") {
    import spark.implicits._
    val es = new EntityStore(tmp("graft_essa_"), spark)
    val b = rows(("u1", "united states", "GPE", "United States", 1L),
      ("u2", "u.s.", "GPE", "U.S.", 1L), ("u3", "paris", "GPE", "Paris", 1L))
    assert(es.merge("b1", b))
    val aliases = Seq(("u.s.", "united states", "GPE")).toDF("norm_a", "norm_b", "entity_type")
    val expected = KgPipeline.sameAsTriples(
      graft.link.EntityLink.dictFromSurfaceRows(b).toDF(), aliases).collect().toSeq
    assert(expected.length === 1)
    var got = Seq.empty[org.apache.spark.sql.Row]
    val (_, scans) = sparkActivity {
      got = KgPipeline.sameAsTriples(es.dict().toDF(), aliases).collect().toSeq
    }
    assert(got === expected)
    // edges, key rendering and the result all read one materialized
    // frame of alias endpoints; the two-table path scanned the dictionary
    // once per consumer
    assert(scans === 1L, s"the dictionary was scanned by $scans stages")
  }

  private def oracleDict(df: org.apache.spark.sql.DataFrame) =
    sortedDict(graft.link.EntityLink.dictFromSurfaceRows(df).toDF())

  test("two stores racing on one root: both merges land, or one fails loudly and its retry lands") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import scala.util.{Failure, Success, Try}
    val root = tmp("graft_esrace_")
    val seed = rows(("u0", "seed", "ORG", "Seed", 1L))
    assert(new EntityStore(root, spark).merge("b0", seed))
    val (a, b) = (new EntityStore(root, spark), new EntityStore(root, spark))
    val rowsA = rows(("u1", "spark", "ORG", "Spark", 2L), ("u2", "paris", "GPE", "Paris", 1L))
    val rowsB = rows(("u3", "spark", "ORG", "SPARK", 3L), ("u4", "rome", "GPE", "Rome", 1L))
    // merge A reads its base, then blocks in a single-partition UDF until
    // merge B has run to completion (or failed)
    MergeGate.reset()
    val gate = udf((_: String) => MergeGate.pass()).asNondeterministic()
    val fa = Future(Try(a.merge("bA", rowsA.repartition(1).filter(gate(col("url"))))))(
      ExecutionContext.global)
    assert(MergeGate.entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "merge A never reached its gate")
    val rb = try Try(b.merge("bB", rowsB)) finally MergeGate.release.countDown()
    val ra = Await.result(fa, 5.minutes)
    val union = oracleDict(seed.unionByName(rowsA).unionByName(rowsB))
    def loud(e: Throwable) = e.isInstanceOf[IllegalStateException] &&
      e.getMessage.contains("claimed")
    (ra, rb) match {
      case (Success(true), Success(true)) => // both landed: checked below
      case (Failure(e), Success(true)) if loud(e) =>
        assert(sortedDict(a.dict().toDF()) === oracleDict(seed.unionByName(rowsB)))
        assert(a.merge("bA", rowsA))
      case (Success(true), Failure(e)) if loud(e) =>
        assert(sortedDict(b.dict().toDF()) === oracleDict(seed.unionByName(rowsA)))
        assert(b.merge("bB", rowsB))
      case other => fail(s"neither both merged nor one loud claim failure: $other")
    }
    assert(sortedDict(a.dict().toDF()) === union)
    assert(a.mergedBatches() === Set("b0", "bA", "bB"))
  }

  test("a fresh foreign claim on the next version makes merge fail loudly, files unchanged") {
    val root = tmp("graft_esclaim_")
    val es = new EntityStore(root, spark)
    assert(es.merge("b1", rows(("u1", "spark", "ORG", "Spark", 1L))))
    // another writer's merge of batch b9 is writing version 2 right now
    Files.writeString(java.nio.file.Paths.get(root, "_claim.2"), "b9")
    val before = SparkSpec.fileTree(root)
    val e = intercept[IllegalStateException](
      es.merge("b2", rows(("u2", "paris", "GPE", "Paris", 1L))))
    assert(e.getMessage.contains("version 2") && e.getMessage.contains("b9"), e.getMessage)
    assert(SparkSpec.fileTree(root) === before)
    assert(es.mergedBatches() === Set("b1"))
  }

  test("a merge's own claim left by a crash is taken over: partial version discarded, claim spent") {
    val root = tmp("graft_escrash_")
    val es = new EntityStore(root, spark)
    val b1 = rows(("u1", "spark", "ORG", "Spark", 1L))
    val b2 = rows(("u2", "spark", "ORG", "SPARK", 3L), ("u2", "paris", "GPE", "Paris", 1L))
    assert(es.merge("b1", b1))
    // b2's first attempt claimed version 2 and died mid-write
    val claim = java.nio.file.Paths.get(root, "_claim.2")
    val torn = java.nio.file.Paths.get(root, "v=2", "entities", "bucket=0", "part-torn.parquet")
    Files.writeString(claim, "b2")
    Files.createDirectories(torn.getParent)
    Files.writeString(torn, "torn")
    assert(es.merge("b2", b2))
    assert(sortedDict(es.dict().toDF()) === oracleDict(b1.unionByName(b2)))
    assert(!Files.exists(torn), "the crashed attempt's partial files must be discarded")
    assert(!Files.exists(claim), "the claim must be spent once its version is published")
    assert(es.mergedBatches() === Set("b1", "b2"))
  }
}

/** The gate merge A's UDF blocks on in the two-store race. Executors run
  * in the test JVM (local mode), so the UDF reaches these latches through
  * the object, not through its serialized closure.
  */
object MergeGate {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)

  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }

  def pass(): Boolean = {
    entered.countDown()
    release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    true
  }
}
