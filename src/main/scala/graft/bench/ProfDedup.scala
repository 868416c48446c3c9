package graft.bench

import org.apache.spark.sql.functions._

/** Scratch diagnostic: q16 charShingleJaccard stage decomposition (r06). */
object ProfDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSpark.session(cpus)
    import spark.implicits._
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dedup] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    noop(docs.groupBy().count())
    (1 to 2).foreach { rnd =>
      println(s"--- round $rnd ---")
      // current shape pieces
      val shAll = docs
        .select(col("doc_id").as("id"),
          explode_outer(expr("transform(sequence(1, greatest(length(text) - 11, 1), 4), i -> substring(text, i, 12))")).as("sh"))
        .distinct()
      timed("shAll eval (string)")(noop(shAll))
      println(s"[dedup]   shAll rows=${shAll.count()}")
      val hot = shAll.groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" > 100L).select($"sh")
      println(s"[dedup]   hot rows=${hot.count()}")
      val sh = shAll.join(hot, Seq("sh"), "left_anti")
      val pairs = sh.as("a").join(sh.as("b"), $"a.sh" === $"b.sh" && $"a.id" < $"b.id")
        .groupBy($"a.id".as("id_a"), $"b.id".as("id_b"))
        .agg(count(lit(1)).as("inter"))
      println(s"[dedup]   candidate pairs=${pairs.count()}")
      timed("full q16 current")(noop(
        graft.ops.Dedup.charShingleJaccard(docs, threshold = 0.6, maxShingleDf = 100L)
          .orderBy(col("id_a"), col("id_b"))))
      // hashed variant
      val shH = docs
        .select(col("doc_id").as("id"),
          explode_outer(expr("transform(sequence(1, greatest(length(text) - 11, 1), 4), i -> substring(text, i, 12))")).as("sh_s"))
        .select($"id", xxhash64($"sh_s").as("sh"))
        .distinct()
      val hotH = shH.groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" > 100L).select($"sh")
      val shHf = shH.join(hotH, Seq("sh"), "left_anti")
      val countsH = shHf.groupBy($"id").agg(count(lit(1)).as("n_sh"))
      val pairsH = shHf.as("a").join(shHf.as("b"), $"a.sh" === $"b.sh" && $"a.id" < $"b.id")
        .groupBy($"a.id".as("id_a"), $"b.id".as("id_b"))
        .agg(count(lit(1)).as("inter"))
      val outH = pairsH
        .join(countsH.select($"id".as("id_a"), $"n_sh".as("na")), Seq("id_a"))
        .join(countsH.select($"id".as("id_b"), $"n_sh".as("nb")), Seq("id_b"))
        .withColumn("jaccard", round($"inter" / ($"na" + $"nb" - $"inter"), 4))
        .filter($"jaccard" >= 0.6)
        .select($"id_a", $"id_b", $"jaccard")
        .orderBy($"id_a", $"id_b")
      timed("full q16 hashed")(noop(outH))
      // variant C: within-doc array_distinct replaces the global distinct
      val shC = docs
        .select(col("doc_id").as("id"),
          explode_outer(array_distinct(expr("transform(sequence(1, greatest(length(text) - 11, 1), 4), i -> substring(text, i, 12))"))).as("sh"))
      val hotC = shC.groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" > 100L).select($"sh")
      val shCf = shC.join(hotC, Seq("sh"), "left_anti")
      val countsC = shCf.groupBy($"id").agg(count(lit(1)).as("n_sh"))
      val pairsC = shCf.as("a").join(shCf.as("b"), $"a.sh" === $"b.sh" && $"a.id" < $"b.id")
        .groupBy($"a.id".as("id_a"), $"b.id".as("id_b"))
        .agg(count(lit(1)).as("inter"))
      val outC = pairsC
        .join(countsC.select($"id".as("id_a"), $"n_sh".as("na")), Seq("id_a"))
        .join(countsC.select($"id".as("id_b"), $"n_sh".as("nb")), Seq("id_b"))
        .withColumn("jaccard", round($"inter" / ($"na" + $"nb" - $"inter"), 4))
        .filter($"jaccard" >= 0.6)
        .select($"id_a", $"id_b", $"jaccard")
        .orderBy($"id_a", $"id_b")
      timed("full q16 arrayDistinct")(noop(outC))
    }
    spark.stop()
  }
}
