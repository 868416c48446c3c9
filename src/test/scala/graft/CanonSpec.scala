package graft

import graft.canon.ConnectedComponents

/** Connected-components canonicalization: HashMin label propagation with
  * checkpointed lineage (north_star (4)).
  */
class CanonSpec extends SparkSpec {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
  }

  test("chain collapses to min id (diameter > 1 requires iteration)") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)))
    assert(got === (1L to 7L).map(_ -> 1L).toMap)
  }

  test("two disjoint components keep separate canonical labels") {
    val got = cc(Seq((10L, 11L), (11L, 12L), (20L, 21L)))
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("duplicate, reversed and self-loop edges are harmless") {
    val got = cc(Seq((2L, 1L), (1L, 2L), (2L, 2L), (1L, 2L)))
    assert(got === Map(1L -> 1L, 2L -> 1L))
  }

  test("result is invariant to input partitioning") {
    import spark.implicits._
    val edges = (1L until 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    val a = ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toSet
    val b = ConnectedComponents.run(edges.toDF("src", "dst").repartition(7))
      .as[(Long, Long)].collect().toSet
    assert(a === b)
    assert(a.filter(_._1 <= 40L).forall(_._2 == 1L))
    assert(a.contains(100L -> 100L) && a.contains(101L -> 100L))
  }

  test("runAuto (driver union-find) produces labels identical to the distributed loop") {
    import spark.implicits._
    val rng = new java.util.Random(5)
    val edges = (0 until 500).map(_ =>
      (rng.nextInt(120).toLong, rng.nextInt(120).toLong))
    val df = edges.toDF("src", "dst")
    val auto = ConnectedComponents.runAuto(df).as[(Long, Long)].collect().toSet
    val dist = ConnectedComponents.run(df).as[(Long, Long)].collect().toSet
    assert(auto === dist)
    // and the large-graph fallback path is the same computation
    val forced = ConnectedComponents.runAuto(df, localMaxEdges = 1L)
      .as[(Long, Long)].collect().toSet
    assert(forced === dist)
  }

  test("runAuto on an empty edge set returns empty labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.runAuto(empty).count() === 0L)
  }
}
