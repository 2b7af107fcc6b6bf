package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Traversals

/** The one session-scoped cache of staged artifacts, keyed on
  * (session, canonical dataset dir, tag, data fingerprint). An entry
  * is one of:
  *
  *  - a staged DataFrame ([[apply]]): persisted or localCheckpointed
  *    blocks — the minhash signatures, candidate pairs, modulus and
  *    bipartite graphs, and the catalog's staged graph versions;
  *  - a catalog table ([[table]]) whose files live in a temp dir of
  *    its own — the bucketed or partitioned "index build once, probe
  *    many" layouts (as-of purchases, IVF cells, postings, NSW graph);
  *  - a plain value ([[value]]) that holds nothing to free — the
  *    sentinel probe's (ts dtype, max micros) pair.
  *
  * Every kind has one lifecycle:
  *
  *  - **builds run OUTSIDE the map.** ConcurrentHashMap forbids
  *    updating other mappings from inside `computeIfAbsent`, and an
  *    artifact whose build consults the memo for its own dependency
  *    (pagerank's edges-with-degrees view over the bipartite edge
  *    table, the hybrid cell statistics over the hybrid index) could
  *    throw `IllegalStateException("Recursive update")` or livelock
  *    when the two keys share a bin; a table build would also hold a
  *    bin for the seconds its write takes. A miss builds first and
  *    `putIfAbsent`s after, so re-entrant lookups are plain map reads;
  *    a lost race releases the duplicate and serves the winner.
  *  - **a new fingerprint releases the entry it supersedes.** The key's
  *    fingerprint ([[SessionMemo.fingerprint]] of the source tables)
  *    makes a mid-session data refresh re-derive instead of serving
  *    stale state (the r9 failure class), and inserting the new entry
  *    under (session, dir, tag) releases the old one: its blocks are
  *    dropped, or its table is dropped and its temp dir deleted. Blocks
  *    still referenced by ANOTHER live entry's plan are kept (the
  *    pagerank view is persisted on top of the checkpointed edge table
  *    and shares its LogicalRDD leaf), so a dependency chain drains as
  *    its dependents refresh — which they do immediately, because every
  *    dependent stages after its dependency in the same call.
  *  - **one stopped-session sweep**, on every lookup: a stopped
  *    session's blocks died with its context, and its tables are
  *    dropped through the live session and their dirs deleted.
  *  - **one shutdown hook** per memo that built a table, deleting the
  *    temp dir of every table still held when the JVM exits, so runs
  *    that never cycle sessions leave nothing behind.
  *  - [[release]] drops a (session, dir, tag) whatever its fingerprint,
  *    for a writer that replaces the data behind the dir.
  *
  * Concurrency bound (r13 advice): eager release on a fingerprint
  * refresh truncates the OLD entry's checkpoint lineage (or drops its
  * table), so a caller still executing a query against the stale
  * DataFrame when a refresh lands would fail unrecoverably. This is
  * safe under the harness's actual execution model — Verify/Bench run
  * queries sequentially per session, and the concurrent-traversal spec
  * uses per-thread staging tags — but the memo does NOT support
  * concurrent queries against the same (dir, tag) across a data
  * refresh. If that ever becomes a requirement, defer stale release to
  * the stopped-session sweep (trading storage for lifetime) instead of
  * weakening the refresh semantics.
  */
private[graft] final class SessionMemo {
  import SessionMemo._

  private val map = new ConcurrentHashMap[Key, Entry]()

  private lazy val reaper: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    map.values.forEach { case Table(_, dir) => deleteRecursively(dir); case _ => () }))

  /** LogicalRDD blocks backing any still-memoized entry: never dropped
    * on a release, whichever entry's plan they were reached through. */
  private def liveBlockIds(): Set[Int] = {
    val b = Set.newBuilder[Int]
    map.values.forEach { case Staged(df) => b ++= Traversals.checkpointRddIds(df); case _ => () }
    b.result()
  }

  /** Frees what `e` holds; a table is dropped through session `s`. */
  private def release(s: SparkSession, e: Entry, blocking: Boolean = false): Unit = e match {
    case Staged(df) =>
      df.unpersist(blocking)
      Traversals.dropCheckpoint(df, keep = liveBlockIds(), blocking)
    case Table(name, dir) =>
      try s.sql(s"DROP TABLE IF EXISTS $name") catch { case NonFatal(_) => () }
      deleteRecursively(dir)
    case Value(_) => ()
  }

  private def canonical(dir: String) = new java.io.File(dir).getCanonicalPath

  /** Whether a key is (session `s`, canonical dir `canon`, `tag`). */
  private def at(s: SparkSession, canon: String, tag: String)(k: Key): Boolean =
    (k._1 eq s) && k._2 == canon && k._3 == tag

  /** Removes the entries whose key `drop` accepts, and returns them. */
  private def removeWhere(drop: Key => Boolean): List[Entry] = {
    val gone = List.newBuilder[Entry]
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (drop(e.getKey)) {
        gone += e.getValue
        it.remove()
      }
    }
    gone.result()
  }

  private def memo(s: SparkSession, dir: String, tag: String, fingerprint: Long)
                  (build: => Entry): Entry = {
    removeWhere(_._1.sparkContext.isStopped).foreach {
      case t: Table => release(s, t)
      case _ => ()
    }
    val key = (s, canonical(dir), tag, fingerprint)
    val hit = map.get(key)
    if (hit ne null) hit
    else {
      val built = build // outside the map — see class doc
      val prev = map.putIfAbsent(key, built)
      if (prev ne null) { release(s, built); prev }
      else {
        removeWhere(k => at(s, key._2, tag)(k) && k._4 != fingerprint).foreach(release(s, _))
        built
      }
    }
  }

  /** The staged DataFrame of (s, dir, tag, fingerprint), built by
    * `build` on a miss. */
  def apply(s: SparkSession, dir: String, tag: String, fingerprint: Long)
           (build: => DataFrame): DataFrame =
    memo(s, dir, tag, fingerprint)(Staged(build)).asInstanceOf[Staged].df

  /** The catalog table of (s, dir, tag, fingerprint). On a miss,
    * `stage(tableName, tempDir)` creates it, and MUST `saveAsTable(
    * tableName)` with its files under `tempDir`; a failed stage drops
    * what it made. The name hashes the temp dir, which no other live
    * table shares: the external catalog is shared across the sessions
    * of one context, and two builds of one key (a refresh, a lost race)
    * must never drop each other's table. */
  def table(s: SparkSession, dir: String, tag: String, fingerprint: Long)
           (stage: (String, Path) => Unit): DataFrame = {
    val built = memo(s, dir, tag, fingerprint) {
      reaper
      val tmp = Files.createTempDirectory(s"graft-$tag")
      val name = s"graft_${tag}_" + java.security.MessageDigest.getInstance("MD5")
        .digest(tmp.toString.getBytes(StandardCharsets.UTF_8))
        .take(8).map("%02x".format(_)).mkString
      val t = Table(name, tmp)
      try stage(name, tmp)
      catch { case NonFatal(e) => release(s, t); throw e }
      t
    }
    s.table(built.asInstanceOf[Table].name)
  }

  /** The value of (s, dir, tag, fingerprint), computed on a miss. */
  def value[T](s: SparkSession, dir: String, tag: String, fingerprint: Long)
              (compute: => T): T =
    memo(s, dir, tag, fingerprint)(Value(compute)).asInstanceOf[Value].v.asInstanceOf[T]

  /** Drops every entry of (session `s`, `dir`, `tag`), whatever its
    * fingerprint, with what it holds (blocks another live entry's plan
    * reads stay). The drop is blocking: once this returns, a DataFrame
    * over a released checkpoint or table fails instead of reading its
    * rows, and the next lookup builds afresh. For a writer that
    * replaces the data behind `dir`. */
  def release(s: SparkSession, dir: String, tag: String): Unit =
    removeWhere(at(s, canonical(dir), tag)).foreach(release(s, _, blocking = true))

  /** The live staged DataFrames of (session `s`, `dir`, `tag`). */
  def entries(s: SparkSession, dir: String, tag: String): List[DataFrame] = {
    val here = at(s, canonical(dir), tag) _
    val b = List.newBuilder[DataFrame]
    map.forEach((k, e) => e match {
      case Staged(df) if here(k) => b += df
      case _ => ()
    })
    b.result()
  }

  /** Test hook: number of live entries of any kind for one
    * (session, dir, tag). */
  private[graft] def entryCount(s: SparkSession, dir: String, tag: String): Int = {
    val here = at(s, canonical(dir), tag) _
    var n = 0
    map.keySet.forEach(k => if (here(k)) n += 1)
    n
  }
}

private[graft] object SessionMemo {
  private[queries] type Key = (SparkSession, String, String, Long)
  private[queries] sealed trait Entry
  private[queries] final case class Staged(df: DataFrame) extends Entry
  private[queries] final case class Table(name: String, dir: Path) extends Entry
  private[queries] final case class Value(v: Any) extends Entry

  /** The memo the query modules stage through. */
  val shared = new SessionMemo

  /** One version of the data: a SHA-256 over the path, size and
    * modification time of every data file of a listing. Names starting
    * with `_` or `.` are skipped, as Spark's file index skips them, so
    * a listing and the files a read plans over agree. A rewrite moves
    * at least one mtime, so schema and content changes both show. */
  def fingerprint(files: Seq[FileStatus]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(f => s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}")
      .sorted.foreach(l => md.update(l.getBytes(StandardCharsets.UTF_8)))
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  /** Recursive delete that CLOSES its directory stream (Files.walk
    * holds an open fd until closed). Best-effort at TWO levels:
    * per-entry, so one undeletable entry doesn't abandon the rest of
    * the reverse-sorted list; and around the walk, catching Exception
    * rather than IOException because the walk stream surfaces
    * vanished-mid-traversal entries as UncheckedIOException (a
    * RuntimeException) — the shutdown-hook / session-sweep reapers
    * must never abort mid-cleanup on a concurrently-reaped file. */
  def deleteRecursively(dir: Path): Unit =
    try {
      if (!Files.exists(dir)) return
      val walk = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p =>
            try Files.deleteIfExists(p)
            catch {
              case _: InterruptedException =>
                // swallowing would mask a pending interrupt and delay
                // JVM shutdown — restore the flag, keep best-effort
                Thread.currentThread().interrupt()
              case _: Exception => ()
            })
      } finally walk.close()
    } catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case _: Exception => ()
    }
}
