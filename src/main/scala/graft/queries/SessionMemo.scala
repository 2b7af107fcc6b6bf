package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Traversals

/** Session-scoped memo of staged DataFrames (persisted or eagerly
  * localCheckpointed) keyed on (session, dataset dir, tag, fixture
  * fingerprint) — the shared lifecycle behind the minhash-signature,
  * candidate-pair, modulus-graph, and bipartite-graph staged artifacts.
  *
  * Contract (carried over from the per-module ConcurrentHashMaps this
  * replaces, plus two r12-advice fixes):
  *
  *  - entries of stopped sessions are swept on every access (their
  *    context can no longer read the blocks anyway);
  *  - the key's fixture fingerprint makes a mid-session fixture refresh
  *    re-derive instead of serving stale state (the r9 failure class);
  *  - **builds run OUTSIDE any ConcurrentHashMap mapping function.**
  *    CHM forbids updating other mappings from inside
  *    `computeIfAbsent`; a staged artifact whose build consults the
  *    memo for its own dependency (pagerank's edges-with-degrees view
  *    over the memoized bipartite edge table) could throw
  *    `IllegalStateException("Recursive update")` or livelock when the
  *    two keys share a hash bin. Here a miss builds first and
  *    `putIfAbsent` after — re-entrant lookups are plain map reads. A
  *    lost race releases the duplicate and serves the winner.
  *  - **superseded fingerprints are released, not abandoned.** When a
  *    refresh inserts a new entry under (session, dir, tag), the old
  *    fingerprint's entry is removed and its persisted/checkpointed
  *    blocks dropped — previously they lived until session stop,
  *    leaking executor storage on every refresh. Blocks still
  *    referenced by ANOTHER live entry's plan are kept (the pagerank
  *    view is persisted on top of the checkpointed edge table and
  *    shares its LogicalRDD leaf), so a dependency chain drains as its
  *    dependents refresh — which they do immediately, because every
  *    dependent stages after its dependency in the same call.
  *
  * Concurrency bound (r13 advice): eager release on a fingerprint
  * refresh truncates the OLD entry's checkpoint lineage, so a caller
  * still executing a query against the stale DataFrame when a refresh
  * lands would fail unrecoverably. This is safe under the harness's
  * actual execution model — Verify/Bench run queries sequentially per
  * session, and the concurrent-traversal spec uses per-thread staging
  * tags — but the memo does NOT support concurrent queries against
  * the same (dir, tag) across a fixture refresh. If that ever becomes
  * a requirement, defer stale-block release to the stopped-session
  * sweep (trading executor storage for lifetime) instead of weakening
  * the refresh semantics.
  */
private[graft] final class SessionMemo {

  private val map =
    new ConcurrentHashMap[(SparkSession, String, String, Long), DataFrame]()

  /** LogicalRDD blocks backing any still-memoized entry: never dropped
    * on a release, whichever entry's plan they were reached through. */
  private def liveBlockIds(): Set[Int] = {
    val b = Set.newBuilder[Int]
    map.values.forEach(df => b ++= Traversals.checkpointRddIds(df))
    b.result()
  }

  private def release(df: DataFrame, blocking: Boolean = false): Unit = {
    df.unpersist(blocking)
    Traversals.dropCheckpoint(df, keep = liveBlockIds(), blocking)
  }

  private def canonical(dir: String) = new java.io.File(dir).getCanonicalPath

  /** Removes the entries of (session `s`, canonical `dir`, `tag`) whose
    * fingerprint `drop` accepts, and returns them. */
  private def removeEntries(s: SparkSession, dir: String, tag: String)(
      drop: Long => Boolean): List[DataFrame] = {
    val gone = List.newBuilder[DataFrame]
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if ((k._1 eq s) && k._2 == dir && k._3 == tag && drop(k._4)) {
        gone += e.getValue
        it.remove()
      }
    }
    gone.result()
  }

  def apply(s: SparkSession, dir: String, tag: String, fingerprint: Long)
           (build: => DataFrame): DataFrame = {
    map.keySet.removeIf(_._1.sparkContext.isStopped)
    val key = (s, canonical(dir), tag, fingerprint)
    val hit = map.get(key)
    if (hit ne null) hit
    else {
      val built = build // outside the map — see class doc
      val prev = map.putIfAbsent(key, built)
      if (prev ne null) { release(built); prev }
      else {
        removeEntries(s, key._2, tag)(_ != fingerprint).foreach(release(_))
        built
      }
    }
  }

  /** Drops every entry of (session `s`, `dir`, `tag`), whatever its
    * fingerprint, with its blocks (those another live entry's plan
    * reads stay). The drop is blocking: once this returns, a DataFrame
    * over a released checkpoint fails instead of reading its rows. For
    * a writer that replaces the data behind `dir`. */
  def release(s: SparkSession, dir: String, tag: String): Unit =
    removeEntries(s, canonical(dir), tag)(_ => true).foreach(release(_, blocking = true))

  /** The live entries of (session `s`, `dir`, `tag`). */
  def entries(s: SparkSession, dir: String, tag: String): List[DataFrame] = {
    val canon = canonical(dir)
    val b = List.newBuilder[DataFrame]
    map.forEach((k, df) => if ((k._1 eq s) && k._2 == canon && k._3 == tag) b += df)
    b.result()
  }

  /** Test hook: number of live entries for one (session, dir, tag). */
  private[graft] def entryCount(s: SparkSession, dir: String, tag: String): Int =
    entries(s, dir, tag).size
}
