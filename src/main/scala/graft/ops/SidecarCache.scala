package graft.ops

import org.apache.spark.sql.SparkSession

/** Mtime-validated per-directory memo for the tiny index-geometry
  * sidecars (`_params`, `_centroids`): an ad-hoc prober in a loop must
  * not pay a Spark read job per probe just to re-load a recorded
  * geometry, but a long-lived session must also never probe with STALE
  * geometry after an out-of-process rebuild — the never-drift contract
  * both indexes document. One cheap `getFileStatus` RPC per probe
  * revalidates the memo against the sidecar dir's modification time (a
  * rebuild deletes and recreates the dir's children, which bumps the dir
  * mtime on local FS and HDFS alike). In-process rebuilds additionally
  * [[invalidate]] their entry so correctness never rests on mtime
  * granularity, then seed it through [[cached]] with the geometry they
  * just wrote, so their first probe loads nothing; two out-of-process
  * rebuilds inside one mtime tick are theoretical at index-rebuild
  * cadence.
  */
private[ops] object SidecarCache {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, AnyRef)]

  /** Load-or-reuse the value derived from the sidecar at `path`. Throws
    * `FileNotFoundException` if the sidecar is missing — callers
    * translate that into their index-specific loud geometry error.
    */
  def cached[T <: AnyRef](spark: SparkSession, path: String)(load: => T): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val mtime = fs.getFileStatus(p).getModificationTime
    cache.get(path) match {
      case Some((m, v)) if m == mtime => v.asInstanceOf[T]
      case _ =>
        val v = load
        cache.put(path, (mtime, v))
        v
    }
  }

  def invalidate(path: String): Unit = { cache.remove(path); () }
}
