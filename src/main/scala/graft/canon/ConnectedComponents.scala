package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected-components canonicalization (north_star (4)): the
  * generalization of the reference's `entity_text_norm` grouping
  * (`src/news_nlp/ner_extractor/tables.py:59-79`) to a sameAs graph.
  *
  * Algorithm: HashMin label propagation as an iterative DataFrame
  * self-join — each node's label becomes the min label in its closed
  * neighborhood; iterate to fixpoint. Converges in O(diameter) rounds;
  * entity-alias graphs have tiny diameters, so this beats the constant
  * overhead of large-star/small-star for the workload while remaining
  * pure DataFrame ops (Catalyst plans every round).
  *
  * Scale notes baked in:
  *   - `localCheckpoint` every round truncates lineage (else the plan
  *     doubles each iteration and the driver OOMs planning round ~20);
  *   - the convergence check is a single count aggregate, not a collect;
  *   - edges are canonicalized (a<b) and deduplicated once up front.
  */
object ConnectedComponents {

  /** Edges a driver-side union-find takes: [[runAuto]]'s switch-over to
    * the distributed loop, and the cap on the alias rows of one sameAs
    * step (`KgPipeline.sameAsTriples`, whose graph is alias-sized).
    */
  val DriverMaxEdges: Long = 4000000L

  /** HashMin rounds [[run]] allows before it fails: each round shrinks a
    * component's label diameter by one, and alias and near-duplicate
    * graphs have small diameters.
    */
  val MaxIterations = 50

  /** Adaptive entry point for graphs that may be corpus-sized (the
    * near-duplicate pairs of `Dedup.nearDupClusters`): up to
    * `localMaxEdges` the component computation runs as driver-side
    * union-find in O(E α(E)) — one collect of the deduped edge set instead
    * of O(diameter) shuffle rounds. Beyond the threshold it falls back to
    * the distributed HashMin loop ([[run]]). Both paths produce identical
    * (node, comp=min-id) labels (pinned by CanonSpec). `localMaxEdges`
    * is settable so the specs can force the distributed path on a small
    * graph.
    */
  def runAuto(edges: DataFrame, localMaxEdges: Long = DriverMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = dedupe(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = e.count()
      if (n == 0L) {
        Seq.empty[(Long, Long)].toDF("node", "comp")
      } else if (n <= localMaxEdges) {
        val labels = unionFind(e.as[(Long, Long)].collect()).toSeq
        spark.createDataset(labels).toDF("node", "comp")
      } else run(e, preDeduped = true)
    } finally e.unpersist(blocking = false)
  }

  /** Driver-side union-find with union-by-min: the root of every tree is
    * the min node id of its component, matching the distributed labels.
    * Every edge endpoint gets a label; a self-loop labels its node itself.
    */
  private[graft] def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  private def dedupe(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select($"src".cast("long"), $"dst".cast("long"))
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
  }

  /** @param edges DataFrame with two long columns `src`, `dst`
    * @return DataFrame (node: Long, component: Long) — component is the
    *         min node id of the component (deterministic canonical label)
    */
  def run(edges: DataFrame, preDeduped: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // undirected, deduped, self-loops dropped
    val e = (if (preDeduped) edges else dedupe(edges)).localCheckpoint()

    val sym = e.select($"a".as("u"), $"b".as("v"))
      .union(e.select($"b".as("u"), $"a".as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // labels(node, comp) — the FIRST HashMin round is fused into the
    // initialization: with labels₀ = node, round 1's "min over the closed
    // neighborhood" is just least(node, min(neighbor id)), and the node
    // set itself comes from the same grouping — one aggregation replaces
    // the distinct + first join+agg round (r06: one fewer materialized
    // round on every invocation; identical labels, CanonSpec-pinned)
    var labels = sym.groupBy($"u")
      .agg(min($"v").as("_nmin"))
      .select($"u".as("node"), least($"u", $"_nmin").as("comp"))
      .localCheckpoint()

    var converged = false
    var iter = 0
    while (!converged && iter < MaxIterations) {
      // candidate label per node: min(own, min over neighbors' labels).
      // The convergence flag rides along in the same checkpointed pass, so
      // each round is exactly one shuffle + one materialization — no extra
      // compare-join job.
      val neighborMin = sym
        .join(labels.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy($"u".as("node"))
        .agg(min($"comp").as("ncomp"))
      val next = labels
        .join(neighborMin, Seq("node"), "left")
        .select($"node",
          least($"comp", coalesce($"ncomp", $"comp")).as("comp"),
          ($"ncomp" < $"comp").as("_changed"))
        .localCheckpoint()
      val changed = next.filter($"_changed").limit(1).count()
      labels = next.drop("_changed")
      converged = changed == 0L
      iter += 1
    }
    sym.unpersist(blocking = false)
    // silent non-convergence = silently WRONG components (one real
    // component reported as several) — fail loudly instead; HashMin
    // converges in O(diameter) rounds, so this only trips on pathological
    // chain graphs
    if (!converged) throw new IllegalStateException(
      "connected components did not converge within " +
        s"ConnectedComponents.MaxIterations = $MaxIterations rounds " +
        "(component diameter exceeds the budget)")
    labels
  }
}
