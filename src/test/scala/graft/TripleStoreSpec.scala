package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.pipeline.TripleStore

/** Snapshot-commit semantics: only manifested batches are visible, resume
  * anti-join, per-partition lineage metrics, predicated delete (S7).
  */
class TripleStoreSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_store_").toString

  /** FileSourceScanExecs of an executed plan, AQE wrappers unwrapped —
    * ONE definition so the two partition-pruning gates cannot diverge.
    */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  private def triples(rows: (String, String, String, Long)*) = {
    import spark.implicits._
    rows.toDF("subj", "pred", "obj", "weight")
  }

  test("commit is atomic: uncommitted data dirs are invisible") {
    val root = tmp()
    val store = new TripleStore(root, spark)
    assert(store.committed().count() === 0L)
    // simulate a killed job: data written, manifest never created
    triples(("u1", "mentions", "e1", 1L)).write
      .parquet(s"$root/data/batch=dead")
    assert(store.committed().count() === 0L)
    // a real commit to the same batch id overwrites the dangling dir
    val n = store.commit("dead", triples(("u2", "mentions", "e2", 1L)))
    assert(n === 1L)
    val got = store.committed().select("subj").collect().map(_.getString(0))
    assert(got.toSeq === Seq("u2"))
  }

  test("compaction sweeps orphan z-staging dirs but never unmanifested ingest dirs") {
    val root = tmp()
    // grace 0: this test models recovering a LONG-crashed store; the
    // default 15-min grace protects a live maintainer's young staging
    val store = new TripleStore(root, spark, zOrphanGraceMs = 0L)
    for (i <- 1 to 3)
      store.commit(s"b$i", triples((s"u$i", "mentions", s"e$i", 1L)))
    // a crashed earlier compaction: zcompact data written, manifest never
    // renamed, and the retry's target set shifted so the id differs
    triples(("ux", "mentions", "ex", 1L)).write
      .parquet(s"$root/data/batch=zcompact-deadbeef")
    // an in-flight INGEST batch (no manifest yet) must not be touched
    triples(("uy", "mentions", "ey", 1L)).write
      .parquet(s"$root/data/batch=stream-00000042")
    store.compact()
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/data/batch=zcompact-deadbeef")),
      "orphan zcompact dir must be swept")
    assert(Files.exists(java.nio.file.Paths.get(s"$root/data/batch=stream-00000042")),
      "unmanifested non-staging dirs are a writer's in-flight state — keep")
    assert(store.committed().count() === 3L)
  }

  test("a YOUNG unmanifested z dir survives the sweep inside the default grace window") {
    val root = tmp()
    val store = new TripleStore(root, spark) // default grace
    store.commit("b1", triples(("u1", "mentions", "e1", 1L)))
    store.commit("b2", triples(("u2", "mentions", "e2", 1L)))
    // another maintainer's seconds-old in-flight staging (reachable via
    // stale-lock takeover) must NOT be treated as a crash orphan yet
    triples(("ux", "mentions", "ex", 1L)).write
      .parquet(s"$root/data/batch=zcompact-inflight")
    store.compact()
    assert(Files.exists(java.nio.file.Paths.get(s"$root/data/batch=zcompact-inflight")),
      "young z staging swept — the grace window is not applied")
  }

  test("autoCompact skips when another maintainer holds the lock; explicit compact takes over a stale one") {
    val root = tmp()
    val store = new TripleStore(root, spark)
    for (i <- 1 to 5)
      store.commit(f"b$i%02d", triples((s"u$i", "mentions", s"e$i", 1L)))
    val lock = java.nio.file.Paths.get(root, "_manifest", "_maintain.lock")
    Files.writeString(lock, "held")
    // opportunistic maintenance must SKIP (another stream's trigger owns
    // maintenance right now), never fold concurrently
    assert(store.autoCompact(maxLive = 2, fanIn = 2) === 0)
    assert(store.committedBatches().size === 5)
    // a STALE lock (crashed holder) is taken over by an explicit compact
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - TripleStore.LockStaleMs - 60000L))
    store.compact()
    assert(store.committedBatches().size === 1)
    assert(!Files.exists(lock), "lock must be released after maintenance")
    // lock free again: opportunistic maintenance works
    store.commit("c1", triples(("v1", "mentions", "f1", 1L)))
    store.commit("c2", triples(("v2", "mentions", "f2", 1L)))
    assert(store.autoCompact(maxLive = 2, fanIn = 2) >= 1)
  }

  test("manifest carries per-partition lineage and per-pred metrics") {
    val root = tmp()
    val store = new TripleStore(root, spark)
    store.commit("b1", triples(
      ("u1", "mentions", "e1", 1L), ("u1", "hasTopic", "t1", 1L)))
    val manifest = Files.readString(
      java.nio.file.Paths.get(root, "_manifest", "b1.commit"))
    assert(manifest.contains(""""rows":2"""))
    assert(manifest.contains(""""mentions":1"""))
    assert(manifest.contains(""""hasTopic":1"""))
    assert(manifest.contains(""""partitions":[{"file":"""))
  }

  /** Ground truth for a manifest stats entry, independent of the write
    * job's observe metric: the parquet footer's record count.
    */
  private def footerRows(file: String): Long = {
    val p = new org.apache.hadoop.fs.Path(file)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, spark.sessionState.newHadoopConf()))
    try r.getRecordCount finally r.close()
  }

  private val FileEntryRe = """\{"file":"([^"]+)","rows":(\d+)\}""".r
  private def manifestFileStats(root: String, batch: String): Seq[(String, Long)] =
    FileEntryRe.findAllMatchIn(Files.readString(
      java.nio.file.Paths.get(root, "_manifest", s"$batch.commit")))
      .map(m => m.group(1) -> m.group(2).toLong).toSeq

  test("per-file manifest stats: task-reported counts match parquet footers exactly") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    // multiple preds × langs × buckets so the per-dir observe metric has
    // real fan-out to attribute
    val t = (1 to 120).map(i => (
      s"u$i",
      if (i % 3 == 0) "hasTopic" else "mentions",
      s"o$i", 1L,
      if (i % 2 == 0) "en" else "es"))
      .toDF("subj", "pred", "obj", "weight", "lang")
    store.commit("b1", t)
    val stats = manifestFileStats(root, "b1")
    assert(stats.nonEmpty)
    assert(stats.map(_._2).sum === 120L)
    // every (file, rows) entry must agree with the file's own footer —
    // the observe-derived fast path may never drift from physical truth
    stats.foreach { case (f, r) => assert(footerRows(f) === r, f) }
  }

  test("session maxRecordsPerFile = 1: still one file per (pred, lang, bucket) dir") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    // one pred, one lang, 30 subjects over at most 16 url buckets:
    // pigeonhole puts >=2 rows in some bucket dir, which a session
    // maxRecordsPerFile=1 would split into several files — the write pins
    // the option to 0, so each dir keeps one file and its observed count
    val t = (1 to 30).map(i => (s"u$i", "mentions", s"o$i", 1L, "en"))
      .toDF("subj", "pred", "obj", "weight", "lang")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 1L)
    try store.commit("b1", t)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val stats = manifestFileStats(root, "b1")
    val dirs = stats.map { case (f, _) => f.substring(0, f.lastIndexOf('/')) }
    assert(stats.size < 30, "some dir must hold >1 row")
    assert(dirs.distinct.size === dirs.size, s"a dir holds >1 file: $dirs")
    val onDisk = Files.walk(java.nio.file.Paths.get(root, "data", "batch=b1"))
    try assert(onDisk.iterator().asScala.count(_.toString.endsWith(".parquet")) === stats.size)
    finally onDisk.close()
    assert(stats.map(_._2).sum === 30L)
    stats.foreach { case (f, r) => assert(footerRows(f) === r, f) }
  }

  test("a null or empty pred fails the commit and publishes no manifest") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    for (bad <- Seq(null, "")) {
      val t = Seq(("u1", "mentions", "e1", 1L), ("u2", bad, "e2", 1L))
        .toDF("subj", "pred", "obj", "weight")
      val e = intercept[Exception](store.commit("b1", t))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
      assert(msgs.exists(_.contains("pred must be non-null")), msgs.mkString("\n"))
      assert(!Files.exists(java.nio.file.Paths.get(root, "_manifest", "b1.commit")))
      assert(store.committedBatches().isEmpty)
    }
  }

  test("an empty lang commits through the Hive default dir with exact per-file stats") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    store.commit("b1", Seq(("u1", "mentions", "e1", 1L, ""), ("u2", "mentions", "e2", 1L, "en"))
      .toDF("subj", "pred", "obj", "weight", "lang"))
    val stats = manifestFileStats(root, "b1")
    assert(stats.exists(_._1.contains("lang=__HIVE_DEFAULT_PARTITION__")), s"$stats")
    stats.foreach { case (f, r) => assert(footerRows(f) === r, f) }
    assert(store.committedForPred("mentions").count() === 2L)
  }

  test("a manifest without a preds field fails, naming its batch") {
    val root = tmp()
    val store = new TripleStore(root, spark)
    store.commit("b1", triples(("u1", "mentions", "e1", 1L)))
    // the first round's format: batch, rows and path only
    Files.writeString(java.nio.file.Paths.get(root, "_manifest", "old7.commit"),
      s"""{"batch":"old7","rows":1,"path":"$root/data/batch=old7"}\n""")
    val e = intercept[IllegalStateException](store.committedForPred("mentions"))
    assert(e.getMessage.contains("'old7'") && e.getMessage.contains("preds"), e.getMessage)
  }

  test("manifest publications leave no checksum litter in _manifest") {
    val root = tmp()
    val store = new TripleStore(root, spark)
    store.commit("b1", triples(("u1", "mentions", "e1", 1L)))
    store.commit("b2", triples(("u2", "mentions", "e2", 1L)))
    store.deleteWhere(col("obj") === "e1")
    // the checksummed local FS writes a .<tmp>.crc beside every staged
    // manifest; the atomic publish must not leave them behind — per-batch
    // tmp names would otherwise grow the _manifest listing without bound
    // under streaming commit cadence
    val names = new java.io.File(s"$root/_manifest").list().toSeq
    assert(names.nonEmpty)
    assert(!names.exists(_.endsWith(".crc")),
      s"orphan checksum sidecars leaked: ${names.filter(_.endsWith(".crc"))}")
    // a PRE-FIX store carries leaked sidecars — maintenance sweeps them
    // (but never a crc whose staged file still exists mid-publication)
    Files.writeString(java.nio.file.Paths.get(root, "_manifest", ".old.tmp.crc"), "x")
    Files.writeString(java.nio.file.Paths.get(root, "_manifest", "live.tmp"), "y")
    Files.writeString(java.nio.file.Paths.get(root, "_manifest", ".live.tmp.crc"), "z")
    store.commit("b3", triples(("u3", "mentions", "e3", 1L)))
    store.compact() // maintenance path runs the sweep
    val after = new java.io.File(s"$root/_manifest").list().toSeq
    assert(!after.contains(".old.tmp.crc"), "orphan legacy crc must be swept")
    assert(after.contains(".live.tmp.crc"),
      "a crc whose staged file exists belongs to an in-flight publication — keep")
  }

  test("unprocessed = anti-join against committed subjects of a predicate") {
    import spark.implicits._
    val store = new TripleStore(tmp(), spark)
    store.commit("b1", triples(("u1", "processedIn", "b1", 1L)))
    val pages = Seq("u1", "u2", "u3").toDF("url")
    val todo = store.unprocessed(pages, "processedIn")
      .as[String].collect().sorted.toSeq
    assert(todo === Seq("u2", "u3"))
  }

  test("commits are hive-partitioned by (pred, lang, bucket); scans prune on pred and lang") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    val t = Seq(
      ("u1", "mentions", "e1", 1L, "en"),
      ("u2", "mentions", "e2", 1L, "es"),
      ("u3", "hasTopic", "t1", 1L, "en"))
      .toDF("subj", "pred", "obj", "weight", "lang")
    store.commit("b1", t)
    // physical layout: batch=b1/pred=<p>/lang=<l>/bucket=<n>/ — pred
    // leads so the incremental anti-join prunes to marker dirs only
    val predDirs = new java.io.File(s"$root/data/batch=b1").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(predDirs.toSeq === Seq("pred=hasTopic", "pred=mentions"))
    val langDirs = new java.io.File(s"$root/data/batch=b1/pred=mentions")
      .listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(langDirs.toSeq === Seq("lang=en", "lang=es"))
    val pruned = store.committed().filter(col("lang") === "en")
    assert(pruned.count() === 2L)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("lang"), plan)
  }

  test("unprocessed prunes to marker partitions — never scans data triples") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    store.commit("b1", triples(
      ("u1", "mentions", "e1", 1L), ("u1", "hasTopic", "t1", 1L),
      ("u1", "processedIn", "b1", 1L)))
    val pages = Seq("u1", "u2").toDF("url")
    val todo = store.unprocessed(pages, "processedIn")
    assert(todo.as[String].collect().toSeq === Seq("u2"))
    val plan = todo.queryExecution.executedPlan.toString
    // the store-side scan must carry a pred partition filter...
    assert(plan.contains("PartitionFilters:") && plan.contains("pred"),
      s"anti-join store scan must prune on pred:\n$plan")
    // ...and the files it reads must ALL be marker files (pred=processedIn
    // directories) — the data-triple partitions never enter the scan
    val scannedMarkerOnly = scans(todo.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions.toPartitionArray.map(_.urlEncodedPath))
    assert(scannedMarkerOnly.nonEmpty)
    assert(scannedMarkerOnly.forall(_.contains("pred=processedIn")),
      s"scan touched non-marker files: ${scannedMarkerOnly.mkString(", ")}")
  }

  test("overwrite discovery: a pred-only condition on committed() prunes partitions") {
    import spark.implicits._
    val store = new TripleStore(tmp(), spark)
    store.commit("b1", triples(
      ("u1", "mentions", "e1", 1L), ("u1", "hasTopic:run1", "t1", 1L),
      ("u2", "hasTopic:run1", "t2", 1L)))
    store.commit("b2", triples(("u3", "mentions", "e3", 1L)))
    // the same scan shape rewriteExcluding's affected-batch discovery
    // runs for overwriteTopics' pred-only conditions: it must read only
    // that predicate's partitions, never the mentions data
    val disc = store.committed().filter(col("pred") === "hasTopic:run1")
      .select(col("batch")).distinct()
    assert(disc.as[String].collect().toSeq === Seq("b1"))
    val files = scans(disc.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions.toPartitionArray.map(_.urlEncodedPath))
    assert(files.nonEmpty)
    assert(files.forall(_.contains("pred=hasTopic")),
      s"discovery touched non-matching partitions: ${files.mkString(", ")}")
  }

  test("unprocessed is duplicate-marker tolerant (left_anti needs no marker distinct)") {
    import spark.implicits._
    val store = new TripleStore(tmp(), spark)
    // a crash-retry window can double-commit a page's marker in two
    // batches; the frontier read must neither fail nor resurrect the page
    store.commit("b1", triples(("u1", "processedIn", "b1", 1L)))
    store.commit("b2", triples(("u1", "processedIn", "b2", 1L), ("u2", "processedIn", "b2", 1L)))
    val pages = Seq("u1", "u2", "u3").toDF("url")
    val todo = store.unprocessed(pages, "processedIn")
      .select("url").as[String].collect().toSeq
    assert(todo === Seq("u3"))
  }

  test("bloom-pruned anti-join equals the plain path; predRowCount reads manifests only") {
    import spark.implicits._
    val store = new TripleStore(tmp(), spark)
    store.commit("b1", triples(
      ("u1", "processedIn", "b1", 1L), ("u2", "processedIn", "b1", 1L),
      ("u1", "mentions", "e1", 1L)))
    store.commit("b2", triples(("u3", "processedIn", "b2", 1L)))
    assert(store.predRowCount("processedIn") === 3L)
    assert(store.predRowCount("mentions") === 1L)
    assert(store.predRowCount("nope") === 0L)
    val pages = Seq("u1", "u2", "u3", "u4", "u5").toDF("url")
    val plain = store.unprocessed(pages, "processedIn")
      .as[String].collect().sorted.toSeq
    // threshold 0 forces the bloom path (production trips it at 10^7)
    val bloomed = store.unprocessed(pages, "processedIn", bloomThreshold = 0L)
      .as[String].collect().sorted.toSeq
    assert(plain === Seq("u4", "u5"))
    assert(bloomed === plain)
  }

  test("deleteWhere retains NULL-evaluating rows (NULL is not a match)") {
    import spark.implicits._
    val store = new TripleStore(tmp(), spark)
    val t = Seq(
      ("u1", "mentions", "x", 1L),
      ("u2", "mentions", null, 1L), // obj IS NULL → condition evaluates NULL
      ("u3", "mentions", "y", 1L))
      .toDF("subj", "pred", "obj", "weight")
    store.commit("b1", t)
    store.deleteWhere(col("obj") === "x")
    val left = store.committed().select("subj").as[String].collect().sorted.toSeq
    assert(left === Seq("u2", "u3"), "null-obj row must survive the rewrite")
    // scoped variant: same contract
    store.deleteScoped(col("obj") === "y", Seq("u2", "u3").toDF("subj"))
    val left2 = store.committed().select("subj").as[String].collect().sorted.toSeq
    assert(left2 === Seq("u2"))
  }

  test("recommitting a superseded batch id is rejected loudly") {
    val store = new TripleStore(tmp(), spark)
    store.commit("b1", triples(("u1", "hasTopic", "t1", 1L)))
    store.commit("b2", triples(("u2", "hasTopic", "t2", 1L)))
    store.compact()
    // b1 is dead forever — a silent recommit would be permanently invisible
    val e = intercept[IllegalArgumentException] {
      store.commit("b1", triples(("u9", "mentions", "e9", 1L)))
    }
    assert(e.getMessage.contains("superseded"))
    // fresh ids keep working
    store.commit("b3", triples(("u3", "mentions", "e3", 1L)))
    assert(store.committed().count() === 3L)
  }

  test("retrying a COMPLETED compaction is a no-op, not an empty overwrite") {
    import spark.implicits._
    val store = new TripleStore(tmp(), spark)
    store.commit("b1", triples(("u1", "hasTopic", "t1", 1L)))
    store.commit("b2", triples(("u2", "mentions", "e1", 1L)))
    store.compact(Seq("b1", "b2"))
    assert(store.committed().count() === 2L)
    // an orchestrator retry re-delivers the SAME explicit target list
    // after cleanup already deleted b1/b2 — folding "them" again would
    // commit an empty batch under the same deterministic compact id and
    // overwrite the real folded data
    store.compact(Seq("b1", "b2"))
    val rows = store.committed().select("subj", "obj")
      .as[(String, String)].collect().sorted.toSeq
    assert(rows === Seq(("u1", "t1"), ("u2", "e1")),
      "retry must not lose the folded rows")
    // partial-overlap retry (one dead target, one live) folds only live
    store.commit("b3", triples(("u3", "mentions", "e3", 1L)))
    store.compact(Seq("b1", "b3")) // b1 dead → single live target → no-op
    assert(store.committed().count() === 3L)
  }

  test("supersedes is transitive: compact → crash before cleanup → compact again") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    store.commit("b1", triples(("u1", "hasTopic", "t1", 1L)))
    store.commit("b2", triples(("u2", "mentions", "e1", 1L)))
    // crash window: the compact manifest landed, cleanup never ran —
    // b1/b2 manifests+data linger dead-but-present
    store.compactImpl(Seq.empty, runCleanup = false)
    assert(Files.exists(java.nio.file.Paths.get(root, "_manifest", "b1.commit")))
    assert(store.committed().count() === 2L)
    // a later compact supersedes-and-deletes the first compact's manifest;
    // with transitive supersedes the new manifest still records b1/b2 dead
    store.commit("b3", triples(("u3", "hasTopic", "t3", 1L)))
    store.compact()
    val rows = store.committed().select("subj", "pred", "obj")
      .as[(String, String, String)].collect().sorted.toSeq
    assert(rows === Seq(("u1", "hasTopic", "t1"), ("u2", "mentions", "e1"),
      ("u3", "hasTopic", "t3")),
      "deleted batches must not resurrect and kept rows must not duplicate")
    // the second compact's sweep also removed the lingering dead manifests
    val manifests = new java.io.File(s"$root/_manifest").listFiles()
      .map(_.getName).filter(_.endsWith(".commit")).sorted
    assert(manifests.length === 1, manifests.mkString(", "))
  }

  test("deleteWhere rewrites committed data (overwrite mode, S7)") {
    val store = new TripleStore(tmp(), spark)
    store.commit("b1", triples(
      ("u1", "hasTopic", "t1", 1L), ("u2", "mentions", "e1", 1L)))
    store.commit("b2", triples(("u3", "hasTopic", "t2", 1L)))
    store.deleteWhere(col("pred") === "hasTopic")
    val left = store.committed().select("subj").collect().map(_.getString(0))
    assert(left.toSeq === Seq("u2"))
  }

  test("empty commits succeed and full deletes leave a readable store") {
    val store = new TripleStore(tmp(), spark)
    assert(store.commit("b0", triples()) === 0L) // empty batch → rows:0 manifest
    assert(store.committedBatches() === Seq("b0"))
    store.commit("b1", triples(("u1", "hasTopic", "t1", 1L)))
    store.deleteWhere(lit(true)) // delete EVERYTHING
    assert(store.committed().count() === 0L)
    // store still writable + readable after a full delete
    store.commit("b2", triples(("u2", "mentions", "e1", 1L)))
    assert(store.committed().count() === 1L)
  }

  test("deleteWhere rewrites only affected batches; swap is crash-atomic") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    store.commit("b1", triples(("u1", "hasTopic", "t1", 1L)))
    store.commit("b2", triples(("u2", "mentions", "e1", 1L))) // untouched
    val b2Mtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "_manifest", "b2.commit"))
    store.deleteWhere(col("pred") === "hasTopic")
    // b2 was never rewritten (manifest untouched) — partition-scoped COW
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "_manifest", "b2.commit")) === b2Mtime)
    assert(store.committed().select("subj").as[String].collect().toSeq === Seq("u2"))
    // liveness after the swap: the superseded b1 must be DEAD (never
    // live alongside its rewrite), b2 untouched, and the only other live
    // batch the zrewrite itself (rows:0 manifests still count for
    // lineage). The old disjunctive assert accepted b1 staying live.
    val live = store.committedBatches()
    assert(!live.contains("b1"), s"superseded b1 must be dead: $live")
    assert(live.filterNot(_.startsWith("zrewrite-")) === Seq("b2"), s"$live")
  }

  test("deleteScoped deletes only matching rows of in-scope subjects") {
    import spark.implicits._
    val store = new TripleStore(tmp(), spark)
    store.commit("b1", triples(
      ("u1", "hasTopic:r1", "t1", 1L), ("u2", "hasTopic:r1", "t2", 1L),
      ("u1", "mentions", "e1", 1L)))
    store.deleteScoped(col("pred") === "hasTopic:r1", Seq("u1").toDF("subj"))
    val left = store.committed().select("subj", "pred")
      .as[(String, String)].collect().sorted.toSeq
    // u1's run-scoped assignment gone; u1's mentions and u2's assignment stay
    assert(left === Seq(("u1", "mentions"), ("u2", "hasTopic:r1")))
  }

  test("commit never re-reads its own output (exactly one job: the write)") {
    val store = new TripleStore(tmp(), spark)
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      store.commit("b1", triples(("u1", "mentions", "e1", 1L)))
      // drain the ASYNC listener bus by stability, not a fixed sleep: a
      // fixed 300 ms could undercount late-delivered extra jobs under
      // co-tenant load and false-PASS this regression gate. Wait until
      // the count is unchanged for 500 ms (cap 5 s).
      val deadline = System.nanoTime() + 5000000000L
      var last = jobs.get(); var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
             System.nanoTime() - stableSince < 500000000L) {
        Thread.sleep(50)
        val now = jobs.get()
        if (now != last) { last = now; stableSince = System.nanoTime() }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    // round 1 ran THREE extra scan jobs (per-file groupBy, per-pred
    // groupBy, count) after the write; metrics now ride the write job
    // (Observation) + parquet footers (metadata-only, no Spark job).
    // Budget: ≤2 — AQE runs the hash-distribution shuffle as its own
    // job before the write; nothing runs after the write.
    assert(jobs.get() <= 2L, s"commit launched ${jobs.get()} jobs, expected ≤2")
  }

  test("compact folds many batches into one; data identical, resume markers preserved") {
    import spark.implicits._
    val store = new TripleStore(tmp(), spark)
    (0 until 5).foreach { i =>
      store.commit(f"b$i%02d", triples((s"u$i", "processedIn", f"b$i%02d", 1L),
        (s"u$i", "hasTopic", s"t$i", 1L)))
    }
    val before = store.committed().select("subj", "pred", "obj", "weight")
      .collect().map(_.toString).sorted.toSeq
    store.compact()
    assert(store.committedBatches().size === 1)
    assert(store.committedBatches().head.startsWith("zcompact-"))
    val after = store.committed().select("subj", "pred", "obj", "weight")
      .collect().map(_.toString).sorted.toSeq
    assert(after === before)
    // the incremental anti-join still sees every processed url
    val todo = store.unprocessed(Seq("u0", "u4", "u9").toDF("url"), "processedIn")
      .as[String].collect().sorted.toSeq
    assert(todo === Seq("u9"))
    // a compacted store keeps accepting commits
    store.commit("b99", triples(("u9", "hasTopic", "t9", 1L)))
    assert(store.committed().count() === 11L)
  }

  test("commit rejects the ENTIRE reserved z namespace, including zcompact-/zrewrite- spellings") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ts_zns_").toString
    val store = new TripleStore(root, spark)
    // ADVICE r04 (medium): the guard exempted zcompact-/zrewrite-, which
    // are exactly the prefixes sweepLingeringDead() deletes when
    // unmanifested — an external writer picking 'zcompact-mybatch' could
    // have its in-flight batch swept by concurrent maintenance
    for (id <- Seq("zcompact-mybatch", "zrewrite-mybatch", "z1")) {
      val e = intercept[IllegalArgumentException] {
        store.commit(id, triples(("u0", "mentions", "e0", 1L)))
      }
      assert(e.getMessage.contains("reserved"), id)
    }
    // internal compaction still works (goes through commitImpl directly)
    store.commit("b1", triples(("u0", "mentions", "e0", 1L)))
    store.commit("b2", triples(("u1", "mentions", "e1", 1L)))
    store.compact()
    assert(store.committedBatches().size === 1)
    assert(store.committedBatches().head.startsWith("zcompact-"))
  }

  test("commit normalizes schema: mixed weight-less/INT-weight batches survive compaction") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    // b1: canonical BIGINT weight; b2: NO weight column (the q46 shape);
    // b3: INT weight + an extra column the contract drops. Pre-fix, the
    // compaction read inferred the schema from ONE file's footer, so the
    // fold either dropped weight for every row or threw on INT32→BIGINT.
    store.commit("b1", triples(("u1", "mentions", "e1", 7L)))
    store.commit("b2", Seq(("u2", "mentions", "e2"))
      .toDF("subj", "pred", "obj"))
    store.commit("b3", Seq(("u3", "mentions", "e3", 3, "junk"))
      .toDF("subj", "pred", "obj", "weight", "extra"))
    def weights() = store.committed()
      .select("subj", "weight").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val before = weights()
    assert(before === Map("u1" -> Some(7L), "u2" -> None, "u3" -> Some(3L)))
    assert(!store.committed().columns.contains("extra"),
      "extra caller columns are dropped at commit")
    store.compact()
    assert(store.committedBatches().size === 1)
    assert(weights() === before,
      "weights must survive a fold of mixed-schema batches unchanged")
  }

  test("batch ids: a '/' or an edge space is rejected before either store writes") {
    import spark.implicits._
    def files(root: String): Set[String] = {
      val base = java.nio.file.Paths.get(root)
      val walk = Files.walk(base)
      try walk.iterator().asScala.map(p => base.relativize(p).toString).toSet
      finally walk.close()
    }
    val tsRoot = tmp()
    val esRoot = tmp()
    val store = new TripleStore(tsRoot, spark)
    val es = new graft.pipeline.EntityStore(esRoot, spark)
    val surfaces = Seq(("u1", "acme", "ORG", "Acme", 2L))
      .toDF("url", "entity_text_norm", "entity_type", "entity_text", "n")
    assert(store.commit("b1", triples(("u1", "mentions", "e1", 1L))) === 1L)
    assert(es.merge("b1", surfaces))
    val (tsFiles, esFiles) = (files(tsRoot), files(esRoot))
    // unchecked, "2024/01/01" commits invisibly (its manifest nests under
    // _manifest/2024/01/, which no listing reads) and "b1 " slips past
    // the trimmed `_batches` replay check, doubling acme's counts
    for (bad <- Seq("2024/01/01", "b1 ", " b1", "", "a\\b", "a\"b", "b\t1", "b\u00011")) {
      val e1 = intercept[IllegalArgumentException] {
        store.commit(bad, triples(("u2", "mentions", "e2", 1L)))
      }
      assert(e1.getMessage.contains(s"'$bad'"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](es.merge(bad, surfaces))
      assert(e2.getMessage.contains(s"'$bad'"), e2.getMessage)
    }
    assert(files(tsRoot) === tsFiles)
    assert(files(esRoot) === esFiles)
    assert(store.committedBatches() === Seq("b1"))
    assert(store.committed().count() === 1L)
    assert(es.mergedBatches() === Set("b1"))
    val acme = es.dict().collect().toSeq
    assert(acme.map(r => (r.entity_text_norm, r.entity_mentions_count, r.news_count)) ===
      Seq(("acme", 2L, 1L)))
  }

  test("predRowCount counts a run-scoped pred whose run id holds '}'") {
    val store = new TripleStore(tmp(), spark)
    val p = graft.schema.Pred.processedFor("r}1")
    store.commit("b1", triples(("u1", p, "b1", 1L), ("u2", p, "b1", 1L),
      ("u1", "mentions", "e1", 1L)))
    assert(store.predRowCount(p) === 2L)
    assert(store.predRowCount("mentions") === 1L)
  }

  /** A manifest in the store's on-disk text format, built by hand: compact
    * JSON, keys in this order, pred keys escaping only `\` and `"`,
    * partition entries sorted as text, `supersedes` only when non-empty.
    */
  private def manifestText(root: String, batch: String, rows: Long,
      preds: Seq[(String, Long)], files: Seq[(String, Long)],
      supersedes: Seq[String] = Nil): String = {
    def key(k: String) = "\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val p = preds.sorted.map { case (k, v) => s"${key(k)}:$v" }.mkString("{", ",", "}")
    val parts = files.map { case (f, r) => s"""{"file":"$f","rows":$r}""" }.sorted
    val sup =
      if (supersedes.isEmpty) ""
      else supersedes.map(b => s""""$b"""").mkString(""","supersedes":[""", ",", "]")
    s"""{"batch":"$batch","rows":$rows,"path":"$root/data/batch=$batch","preds":$p,""" +
      s""""partitions":${parts.mkString("[", ",", "]")}$sup}\n"""
  }

  private type Row6 = (String, String, String, Long, String, Int)

  private def readManifestText(root: String, batch: String): String =
    Files.readString(java.nio.file.Paths.get(root, "_manifest", s"$batch.commit"))

  test("the manifest writer keeps the store's on-disk text format byte for byte") {
    val root = tmp()
    val store = new TripleStore(root, spark)
    store.commit("b1", triples(("u1", "mentions", "e1", 1L), ("u1", "hasTopic", "t1", 1L)))
    store.commit("b2", triples(("u2", "mentions", "e2", 1L)))
    store.commit("b0", triples())
    store.compactImpl(Seq("b1", "b2"), runCleanup = false)
    val cid = store.committedBatches().filter(_.startsWith("zcompact-")).head
    assert(readManifestText(root, "b1") === manifestText(root, "b1", 2L,
      Seq("hasTopic" -> 1L, "mentions" -> 1L), manifestFileStats(root, "b1")))
    assert(readManifestText(root, "b0") === manifestText(root, "b0", 0L, Nil, Nil))
    assert(readManifestText(root, cid) === manifestText(root, cid, 3L,
      Seq("hasTopic" -> 1L, "mentions" -> 2L), manifestFileStats(root, cid),
      supersedes = Seq("b1", "b2")))
  }

  test("stores written in the on-disk text format read and compact unchanged") {
    import spark.implicits._
    val root = tmp()
    // real data dirs beside hand-written manifests: a live batch (with a
    // control char and a quote in two pred keys), a rows:0 batch, and a
    // compaction whose dead ancestor still lingers
    def batch(b: String, rows: Row6*): Seq[(String, Long)] = {
      rows.toDF("subj", "pred", "obj", "weight", "lang", "bucket").write
        .partitionBy("pred", "lang", "bucket").parquet(s"$root/data/batch=$b")
      val walk = Files.walk(java.nio.file.Paths.get(root, "data", s"batch=$b"))
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet"))
        .map(f => f -> footerRows(f)).toSeq
      finally walk.close()
    }
    def manifest(b: String, text: String): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(root, "_manifest"))
      Files.writeString(java.nio.file.Paths.get(root, "_manifest", s"$b.commit"), text)
    }
    val live: Seq[Row6] = Seq(("u1", "mentions", "e1", 1L, "en", 0),
      ("u1", "hasTopic", "t1", 2L, "en", 1), ("u2", "a\u0001b", "x", 1L, "en", 0),
      ("u2", "q\"x", "y", 1L, "es", 0))
    manifest("b1", manifestText(root, "b1", 4L, Seq("mentions" -> 1L,
      "hasTopic" -> 1L, "a\u0001b" -> 1L, "q\"x" -> 1L), batch("b1", live: _*)))
    manifest("b0", manifestText(root, "b0", 0L, Nil, Nil))
    val dead: Row6 = ("u9", "mentions", "e9", 1L, "en", 0)
    manifest("old1", manifestText(root, "old1", 1L, Seq("mentions" -> 1L), batch("old1", dead)))
    val folded: Row6 = ("u3", "mentions", "e3", 1L, "es", 0)
    manifest("zcompact-0001", manifestText(root, "zcompact-0001", 1L,
      Seq("mentions" -> 1L), batch("zcompact-0001", folded), supersedes = Seq("old1")))

    val store = new TripleStore(root, spark)
    def rows() = store.committed().select("subj", "pred", "obj", "weight", "lang")
      .as[(String, String, String, Long, String)].collect().sorted.toSeq
    val want = (live :+ folded).map(r => (r._1, r._2, r._3, r._4, r._5)).sorted
    assert(store.committedBatches() === Seq("b0", "b1", "zcompact-0001"))
    assert(rows() === want)
    val counts = Seq("mentions" -> 2L, "hasTopic" -> 1L, "a\u0001b" -> 1L,
      "q\"x" -> 1L, "nope" -> 0L)
    counts.foreach { case (p, n) => assert(store.predRowCount(p) === n, p) }
    store.compact()
    assert(store.committedBatches().size === 1)
    assert(store.committedBatches().head.startsWith("zcompact-"))
    assert(rows() === want)
    counts.foreach { case (p, n) => assert(store.predRowCount(p) === n, p) }
    val manifests = new java.io.File(s"$root/_manifest").list().filter(_.endsWith(".commit"))
    assert(manifests.toSeq === store.committedBatches().map(_ + ".commit"),
      "the fold sweeps every dead manifest, the lingering ancestor included")
  }

  test("pred reads planned from manifest counts equal filtered committed()") {
    import spark.implicits._
    val root = tmp()
    val store = new TripleStore(root, spark)
    val run = graft.schema.Pred.processedFor("r}\"1")
    store.commit("b1", triples(("u1", "mentions", "e1", 1L), ("u1", "hasTopic", "t1", 1L),
      ("u1", "processedIn", "b1", 1L)))
    store.commit("b2", triples(("u2", "mentions", "e2", 1L), ("u2", "processedIn", "b2", 1L)))
    store.commit("b0", triples())
    // a fold of b1+b2 whose dead ancestors linger (crash before cleanup)
    store.compactImpl(Seq("b1", "b2"), runCleanup = false)
    assert(Files.exists(java.nio.file.Paths.get(root, "_manifest", "b1.commit")))
    store.commit("b3", triples(("u3", run, "b3", 1L), ("u1", run, "b3", 1L),
      ("u3", "sameAs", "u1", 1L)))
    store.commit("b4", triples(("u4", "processedIn", "b4", 1L), ("u4", "mentions", "e4", 1L)))
    val all = store.committed()
    val preds = all.select("pred").distinct().as[String].collect().toSeq
    assert(preds.toSet === Set("mentions", "hasTopic", "processedIn", run, "sameAs"))
    val pages = Seq("u1", "u2", "u3", "u4", "u5").toDF("url")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (p <- preds :+ "absent") {
      val want = all.filter(col("pred") === p)
      assert(rows(store.committedForPred(p)) === rows(want), p)
      val todo = pages.join(want.select(col("subj").as("url")), Seq("url"), "left_anti")
      assert(rows(store.unprocessed(pages, p)) === rows(todo), p)
    }
  }
}
