package graft.util

import org.apache.hadoop.fs.Path

/** Versioned snapshots under one store root — the ONE publish protocol
  * of [[graft.pipeline.EntityStore]] and [[graft.pipeline.RunRegistry]],
  * standing in for the reference's transactional `entities` upsert and
  * deactivate-then-activate (`db/schema.sql:53-55`,
  * `topics_detector/db_io.py:115-144`):
  *   - version `N` is the immutable directory `v=N` ([[dir]]);
  *   - `_latest` names the current version ([[current]]; absent = 0, the
  *     empty store) and is swapped by an atomic rename
  *     ([[StoreFs.writeStringAtomic]]): readers see old or new, never a
  *     half-written version;
  *   - a writer CLAIMS version `base + 1` (`_claim.N`, [[StoreFs.claim]])
  *     before writing it, so two writers never both build `v=base+1`
  *     from the same base — the silent lost update of an unclaimed
  *     `next = current + 1`.
  *
  * A claim's token names the operation (a merge's batch id, a registry
  * operation plus its run id). A claim held under the same token is that
  * operation's crashed attempt: it is taken over and its half-written
  * dir discarded. So is a claim older than [[graft.pipeline.TripleStore
  * .LockStaleMs]] (its holder crashed). Any other claim fails the
  * publish with an IllegalStateException naming the version and its
  * holder, before anything is written; the caller retries or surfaces it.
  *
  * GC keeps the [[Snapshots.Retain]] newest versions. READER CONTRACT: a
  * lazy plan over [[dir]]`(current())` stays readable for the next
  * `Retain - 1` publishes; a reader pruned underneath fails loudly
  * (FileNotFoundException), never silently wrong.
  */
final class Snapshots(sfs: StoreFs) {

  private val latest = sfs.path("_latest")

  def current(): Long =
    if (sfs.exists(latest)) sfs.readString(latest).trim.toLong else 0L

  def dir(v: Long): Path = sfs.path(s"v=$v")

  private[graft] def claimPath(v: Long): Path = sfs.path(s"_claim.$v")

  /** Publish version `current() + 1`: claim it under `token`, run
    * `write(base, dir)` — which builds the new version in `dir` from
    * version `base` — swap `_latest` and GC. A `write` that returns false
    * (its work is already in `base`) publishes nothing and releases the
    * claim; one that throws releases it and rethrows. When another writer
    * publishes between this one reading its base and taking the claim,
    * the publish restarts from the new base: no update is lost.
    */
  def publish(token: String)(write: (Long, Path) => Boolean): Boolean = {
    val base = current()
    val next = base + 1L
    val claim = claimPath(next)
    if (!sfs.claim(claim, token, graft.pipeline.TripleStore.LockStaleMs)) {
      if (current() != base) return publish(token)(write) // the holder published
      throw new IllegalStateException(s"version $next of ${sfs.root} is claimed by " +
        s"'${sfs.holder(claim).getOrElse("?")}'; '$token' publishes nothing")
    }
    if (current() != base) { // claimed after that version was published and its claim GC'd
      release(claim, token)
      return publish(token)(write)
    }
    val out = dir(next)
    sfs.delete(out, recursive = true) // a crashed attempt's partial version
    val wrote =
      try write(base, out)
      catch { case e: Throwable => abandon(claim, token, out); throw e }
    if (wrote) {
      sfs.writeStringAtomic(latest, next.toString, tmpName = s"_latest.tmp$next")
      gc(next)
    } else abandon(claim, token, out)
    wrote
  }

  private def release(claim: Path, token: String): Unit =
    if (sfs.holder(claim).contains(token)) sfs.delete(claim, recursive = false)

  private def abandon(claim: Path, token: String, out: Path): Unit = {
    sfs.delete(out, recursive = true)
    release(claim, token)
  }

  /** Delete version dirs more than [[Snapshots.Retain]] behind `current`
    * and the claims of versions up to it. Crash-safe: only superseded
    * snapshots and spent claims are touched, and a retry re-prunes. LISTS
    * the root instead of walking down from `current`: a walk that stops
    * at the first missing dir would strand everything below a gap (a
    * crash between two deletes) beyond GC's reach forever.
    */
  private def gc(current: Long): Unit = sfs.listNames(sfs.rootPath).foreach { n =>
    def version(prefix: String) =
      if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption else None
    version("v=").filter(v => v >= 1L && v <= current - Snapshots.Retain)
      .foreach(v => sfs.delete(dir(v), recursive = true))
    version("_claim.").filter(_ <= current)
      .foreach(v => sfs.delete(claimPath(v), recursive = false))
  }
}

object Snapshots {
  /** Versions kept by GC: the current one and the one before it, so a
    * reader that bound the previous version survives one publish.
    */
  val Retain = 2
}
