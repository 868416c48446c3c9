package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingDedup

/** flatMapGroupsWithState first-seen dedup across micro-batches. */
class StreamingDedupSpec extends SparkSpec {

  test("keys pass through once, duplicates in later batches are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val out = StreamingDedup.firstSeenMin(input.toDS())
    val q = out.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(("u1", "a"), ("u2", "b"), ("u1", "a2"))
      q.processAllAvailable()
      input.addData(("u1", "again"), ("u3", "c"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").as[(String, String)]
        .collect().toMap
      assert(got.keySet === Set("u1", "u2", "u3"))
      assert(got("u1") === "a" && got("u3") === "c")
      // u1 emitted exactly once (from the first batch)
      assert(spark.table("dedup_out").count() === 3L)
    } finally q.stop()
  }

  test("streamFirstSeenBucket emits each key's min bucket (chronological batches)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // keys spanning several weekly buckets, incl. one key whose rows sit
    // ONLY in late buckets and one present in every bucket; second run
    // must be identical (within-batch take(1) made value-deterministic)
    val day = 86400L
    val rows = Seq(
      (1L, 0L), (1L, 8L), (1L, 16L), (1L, 24L), // every week
      (2L, 9L), (2L, 25L), // first seen week 1
      (3L, 26L), // only the last week
      (4L, 2L), (4L, 3L) // twice in week 0
    ).map { case (u, d) =>
      (u, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(d * day + 7L)))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_sfs_spec_").toString
    rows.toDF("user_id", "ts").write.parquet(s"$dir/events.parquet")
    def run(tag: String) = StreamingDedup.streamFirstSeenStaged(spark,
      StreamingDedup.stageFirstSeenInput(spark, s"$dir/events.parquet",
        java.nio.file.Files.createTempDirectory("graft_sfs_scratch_").toString),
      s"sfs_spec_$tag")
      .orderBy(col("user_id")).as[(Long, Long)].collect().toSeq
    val got = run("a")
    assert(got === Seq((1L, 0L), (2L, 1L), (3L, 3L), (4L, 0L)))
    assert(run("b") === got) // deterministic across runs
  }

  test("firstSeenMin emits the min value even when one batch mixes buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the r06 trigger-batching change rests on this: a trigger absorbing
    // SEVERAL chronological files hands the state function a mixed-bucket
    // iterator, and the emitted value must still be the key's min —
    // take(1)-style arbitrary-row emission would be nondeterministic here
    val input = MemoryStream[(String, Long)]
    val out = StreamingDedup.firstSeenMin(input.toDS())
    val q = out.writeStream
      .format("memory").queryName("dedup_min_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(("u1", 5L), ("u1", 2L), ("u1", 9L), ("u2", 7L))
      q.processAllAvailable()
      input.addData(("u1", 3L), ("u3", 4L), ("u3", 6L)) // u1 already seen
      q.processAllAvailable()
      val got = spark.table("dedup_min_out").as[(String, Long)]
        .collect().toMap
      assert(got === Map("u1" -> 2L, "u2" -> 7L, "u3" -> 4L))
      assert(spark.table("dedup_min_out").count() === 3L)
    } finally q.stop()
  }

  test("firstSeenMin fails loudly when a later batch carries a key's smaller value") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the chronological precondition broken: u1 emitted 5, then 2 arrives
    // — dropping it would leave 5 as u1's first-seen value
    val input = MemoryStream[(String, Long)]
    val q = StreamingDedup.firstSeenMin(input.toDS()).writeStream
      .format("memory").queryName("dedup_min_late_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(("u1", 5L), ("u2", 7L))
      q.processAllAvailable()
      input.addData(("u1", 2L), ("u2", 9L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => c.getMessage != null && c.getMessage.contains("key 'u1'")),
        chain.map(_.toString).mkString(" <- "))
    } finally q.stop()
  }
}
