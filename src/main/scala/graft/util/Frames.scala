package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-bearing empty DataFrames — ONE definition. Hand-rolled
  * `createDataFrame(emptyRDD, fromDDL(...))` copies drift from their
  * non-empty twins by eye and only surface as join/union analysis errors
  * at runtime. An empty `LocalRelation`: Catalyst prunes anti-joins and
  * unions against it, so a run against an empty store plans no exchange.
  */
object Frames {
  def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Spread a CPU-heavy narrow pass over the session's parallelism when
    * the input arrives in fewer partitions (optimization guide §2.5,
    * "input skew": one small or unsplittable file serializes the whole
    * pass on a single core — measured 3.2 s of one-task signature
    * compute with 31 cores idle on a single-file parquet scan). Gated:
    * a scan already at least half as parallel as the session passes
    * through untouched, so a cluster-scale input never pays the extra
    * exchange — this only fires where the alternative is a one-core
    * straggler. Hash-partitioned on `keyCol` (deterministic row→task
    * assignment; round-robin would pay sortBeforeRepartition and its
    * retry-determinism caveats).
    */
  def spreadNarrow(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Inspect the OPTIMIZED LOGICAL plan, never the compiled RDD, to
    // decide whether the input can be under-partitioned: under AQE,
    // `df.rdd` on a plan WITH exchanges materializes every shuffle stage
    // at plan time, and that work is not reused by the real action. A
    // plan containing anything beyond scan/project/filter/generate (and
    // the typed-API wrappers) is post-shuffle — already at session
    // parallelism — so the spread is skipped without compiling anything.
    val narrowOnly = df.queryExecution.optimizedPlan.collectFirst {
      case p if !(p.isInstanceOf[LeafNode] || p.isInstanceOf[Project] ||
        p.isInstanceOf[Filter] || p.isInstanceOf[Generate] ||
        p.isInstanceOf[SerializeFromObject] || p.isInstanceOf[DeserializeToObject] ||
        p.isInstanceOf[MapPartitions] || p.isInstanceOf[TypedFilter] ||
        p.isInstanceOf[SubqueryAlias]) => p
    }.isEmpty
    if (!narrowOnly) return df
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    // .rdd is safe here: a narrow-only plan has no stages to materialize
    if (df.rdd.getNumPartitions * 2 >= want) df
    else df.repartition(want, org.apache.spark.sql.functions.col(keyCol))
  }
}
