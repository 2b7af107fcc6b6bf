package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.queries.SessionMemo

/** Named-graph store replacing the reference's write path
  * (ops 1/2, `primary_server.c:70-99`) and its per-graph
  * reader/writer-lock machinery (`load_balancer.c:36-40`,
  * `secondary_server.c:74-113`).
  *
  * Graphs persist as Parquet edge lists under `root/<name>/edges`.
  * Consistency model: `mode("overwrite")` gives the same
  * last-writer-wins whole-graph replacement the reference's writer
  * lock provided. Readers are never torn: a query executed against a
  * [[load]] reads one complete graph version. What it does when the
  * files are replaced underneath it depends on what the load returned:
  * a driver-staged version (below) is a **snapshot** and keeps its
  * rows, the reference's reader semantics; a plain read or a
  * checkpoint stage is **fail-stop**: the read fails with
  * FILE_NOT_EXIST (verified), or the released checkpoint fails, rather
  * than mixing versions. For a read that must survive concurrent
  * overwrites whatever the graph's size, [[loadPinned]] materialises
  * the snapshot first (the moral equivalent of the reference's reader
  * lock, without blocking writers).
  *
  * Staged versions: the reference's read servers hold the graph in
  * memory and traverse it (`secondary_server.c:91-100`). Here a
  * version written by [[addGraph]] / [[modifyGraph]] is staged by its
  * first [[load]], in this catalog's [[graft.queries.SessionMemo]],
  * keyed on the edge path and the fingerprint of the file listing the
  * write left; the write observes the version's edge count, which runs
  * no extra job. A version of at most [[Traversals.bfsLocalMaxEdges]]
  * edges is collected once by that load and staged on the driver, as a
  * local relation of its rows, so a traversal of it plans no scan and
  * runs no job. Those rows are driver heap: at most 16 384 per graph,
  * about 1.3 MiB, which cannot spill. The catalog sets no cap on the
  * number of graphs, so driver memory grows with the number of small
  * graphs loaded since their last write. A larger version is
  * staged as a lazy `localCheckpoint` of the read, filled by the first
  * job over it, with its exact edge count in its plan statistics, so a
  * traversal skips the bounded collect and scans the checkpoint in
  * place. That is the cost of staging: a stage (for a checkpoint,
  * once filled; storage level MEMORY_AND_DISK) stays until the next
  * write to the graph through this catalog, or until a load finds
  * another writer's files, whether or not the graph is read again, and
  * a [[loadPinned]] of a checkpoint-staged graph holds a second full
  * copy. Graphs this catalog did not write (or whose count the write
  * did not deliver), appended graphs and the bucketed and versioned
  * layouts keep the plain Parquet read. Every write to a graph's path
  * releases its stage before it writes, and a listing that no longer
  * matches the fingerprint (another writer replaced the files) is read
  * plainly, so a released checkpoint fails as a read over replaced
  * files does, and a stage never serves rows of a superseded version
  * to a new [[load]]. A write whose input reads the graph it writes,
  * its files or its checkpoint stage (`modifyGraph(g,
  * load(g).union(more))`, `addEdges(g, load(g)...)`), pins that input
  * before it releases or deletes anything, so it reads the old version
  * whole; a driver-staged input already holds it.
  *
  * No fixed caps (reference: 20 graphs / 100 vertices); names are
  * real names, not a load-bearing `G<k>.txt` convention
  * (`primary_server.c:43-51`).
  */
final class GraphCatalog(spark: SparkSession, root: String) {

  private def edgePath(name: String) = s"$root/$name/edges"

  /** The catalog's edge schema. Every write casts its edges to it, so
    * every read declares it instead of inferring it from a Parquet
    * footer, which costs a Spark job per load. */
  private val edgeSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))
  private def asEdges(edges: DataFrame) =
    edges.select(edgeSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
  private def readEdges(path: String) = spark.read.schema(edgeSchema).parquet(path)
  private def validate(name: String): Unit =
    require(name.nonEmpty && !name.contains("/") && !name.contains(".."),
      s"invalid graph name: $name")

  /** The staged versions (see the class doc), one per graph. */
  private val stages = new SessionMemo
  private val stageTag = "catalog.stage"

  /** Per graph, the fingerprint of the listing its last [[addGraph]]
    * left and the edge count observed on that write. */
  private val written = new ConcurrentHashMap[String, (Long, Long)]()

  /** Runs a write of `edges` to `name`'s edge path after forgetting
    * its observed count and releasing its stage. When `edges` reads
    * the graph itself, its files or its stage (a [[load]] of it, to
    * append to it or to rewrite it), it is pinned first with an eager
    * `localCheckpoint`, so the write reads the rows the graph held
    * instead of files it has deleted or blocks just released, and the
    * pin is dropped once the write is done. */
  private def rewrite(name: String, edges: DataFrame)(write: DataFrame => Unit): Unit = {
    validate(name)
    val stage = stages.entries(spark, edgePath(name), stageTag)
      .flatMap(Traversals.checkpointRddIds).toSet
    val pin = if (reads(edges, fs.makeQualified(new Path(edgePath(name))), stage))
      Some(edges.localCheckpoint(eager = true)) else None
    written.remove(name)
    stages.release(spark, edgePath(name), stageTag)
    try write(pin.getOrElse(edges))
    finally pin.foreach(Traversals.dropCheckpoint(_))
  }

  /** Whether `df`'s plan reads the files under `dir`, or an RDD of
    * `ids` as a checkpoint or in the lineage of one. */
  private def reads(df: DataFrame, dir: Path, ids: Set[Int]): Boolean = {
    val plan = df.queryExecution.analyzed
    val seen = scala.collection.mutable.Set.empty[Int]
    def lineage(rdd: RDD[_]): Boolean =
      seen.add(rdd.id) && (ids(rdd.id) || rdd.dependencies.exists(d => lineage(d.rdd)))
    plan.collectWithSubqueries {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.rootPaths
    }.flatten.contains(dir) ||
      ids.nonEmpty && plan.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }.exists(lineage)
  }

  /** Reference op=1 (Add graph). Create-or-replace, atomic per graph.
    * The write observes its edge count for [[load]]'s staging, and
    * takes it once the write returns, waiting at most Spark's 100 ms
    * for the listener bus to deliver it; a count still missing leaves
    * the graph to the plain read. */
  def addGraph(name: String, edges: DataFrame): Unit = rewrite(name, edges) { input =>
    val rows = Observation()
    asEdges(input).observe(rows, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(edgePath(name))
    for (r <- Bridge.observedRow(rows); files <- listing(name))
      written.put(name, (files, r.getLong(0)))
  }

  /** Reference op=2 (Modify graph) — behaviourally identical to add
    * (`primary_server.c:70-99` uses one write path for both). */
  def modifyGraph(name: String, edges: DataFrame): Unit = addGraph(name, edges)

  /** Read of a named graph's edge list. An absent graph fails here.
    *
    * A version that this catalog wrote with [[addGraph]] /
    * [[modifyGraph]] is staged by its first load and returned from the
    * stage by later ones (see the class doc). With an observed edge
    * count of at most [[Traversals.bfsLocalMaxEdges]], the first load
    * collects the version in one job and the stage is a local relation
    * of its rows: a snapshot, which keeps its rows after an overwrite,
    * and later loads run no job. Above the bound the stage is a
    * checkpoint that the first job over it fills, stating its exact row
    * count, fail-stop as the plain read is; the load runs no job. Both
    * stay in memory until the graph's next write. For a graph without a
    * count and for any listing other than the one the write left, the
    * load is the plain Parquet read (fail-stop under a concurrent
    * overwrite), and runs no job. The first load of a small version
    * is the one load that runs a job, so it is the one that can fail
    * itself, with FILE_NOT_EXIST, when another writer replaces the
    * files between its listing check and its collect. */
  def load(name: String): DataFrame = {
    validate(name)
    val entry = written.get(name)
    if (entry == null) readEdges(edgePath(name))
    else if (listing(name).contains(entry._1))
      stages(spark, edgePath(name), stageTag, entry._1) {
        val read = readEdges(edgePath(name))
        if (entry._2 <= Traversals.bfsLocalMaxEdges) held(read, entry._2)
        else Bridge.withRowCount(read.localCheckpoint(eager = false), entry._2)
      }
    else {
      // another writer replaced the files: the count and any stage
      // describe a superseded version
      if (written.remove(name, entry)) stages.release(spark, edgePath(name), stageTag)
      readEdges(edgePath(name))
    }
  }

  /** The fingerprint of the files under `name`'s edge path; None when
    * it is gone. */
  private def listing(name: String): Option[Long] =
    try Some(SessionMemo.fingerprint(fs.listStatus(new Path(edgePath(name))).toSeq))
    catch { case _: java.io.FileNotFoundException => None }

  /** `read`, a version of `rows` edges, as a local relation of its rows,
    * collected in one job of at most `rows + 1` rows per partition. When
    * the files hold another count (another writer replaced them since
    * the listing), `read` itself: the next load sees the new listing and
    * releases it. */
  private def held(read: DataFrame, rows: Long): DataFrame = {
    val cap = rows.toInt + 1
    val data = read.queryExecution.toRdd.mapPartitions(_.take(cap).map(_.copy())).collect()
    if (data.length != rows) read
    else Bridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(edgeSchema),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(data)))
  }

  /** Materialised snapshot: survives a concurrent overwrite of the
    * underlying files. `persist()` is NOT enough — Spark's
    * CacheManager re-caches by path on write, silently swapping in the
    * new version (observed) — so the snapshot is `localCheckpoint`ed:
    * the computed rows are detached from the file source entirely. A
    * driver-staged version (see [[load]]) already is such a snapshot,
    * and is returned as it is, with no job past its first load's. */
  def loadPinned(name: String): DataFrame = {
    val df = load(name)
    if (df.queryExecution.analyzed.isInstanceOf[LocalRelation]) df
    else df.localCheckpoint(eager = true)
  }

  private def tableName(name: String) = {
    // table identifiers are strict so two catalog names can never
    // collide after sanitisation ("a-b" vs "a.b" -> same table)
    require(name.matches("[A-Za-z0-9_]+"),
      s"bucketed graph names must be [A-Za-z0-9_]+, got: $name")
    "graft_" + name
  }

  /** Add a graph as a **bucketed** table (hash-bucketed + sorted by
    * `src`): repeated traversals and edge-edge joins keyed on `src`
    * read co-located buckets and skip the shuffle entirely — the
    * persistent-storage counterpart of
    * [[Traversals.partitionEdges]]'s in-memory partitioning, and the
    * right layout for a graph queried many times at 100 TB. */
  def addGraphBucketed(name: String, edges: DataFrame, buckets: Int = 32): Unit =
    rewrite(name, edges) { input =>
      asEdges(input)
        .write.mode(SaveMode.Overwrite)
        .format("parquet")
        .bucketBy(buckets, "src").sortBy("src")
        .option("path", edgePath(name))
        .saveAsTable(tableName(name))
    }

  /** Load a bucketed graph with its bucket metadata (required for
    * shuffle elimination — a plain parquet read loses it). */
  def loadBucketed(name: String): DataFrame = { validate(name); spark.table(tableName(name)) }

  /** Append-mode mutation — the operation a 100 TB catalog needs that
    * the reference's whole-graph op=2 rewrite can't provide: new edges
    * land as ADDITIONAL parquet files, touching none of the existing
    * data. Readers keep their snapshot semantics: an in-flight [[load]]
    * planned before the append never sees the new files (file listing
    * is plan-time), and a [[loadPinned]] snapshot is immune by
    * construction. Creates the graph when absent (append to empty). */
  def addEdges(name: String, edges: DataFrame): Unit = rewrite(name, edges) { input =>
    asEdges(input)
      .write.mode(SaveMode.Append).parquet(edgePath(name))
  }

  private def bucketSpecOf(name: String) = spark.sessionState.catalog
    .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tableName(name)))
    .bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"graph '$name' has no bucket spec — use addEdges for plain-layout graphs"))

  /** [[addEdges]] into the BUCKETED layout: the delta is written as its
    * own set of bucket files under the same spec (bucket count read
    * from the catalog, so it can never diverge), which keeps src-keyed
    * joins and traversals shuffle-free — each bucket id just has more
    * than one file until [[compactBucketed]] folds them together. */
  def addEdgesBucketed(name: String, edges: DataFrame): Unit = rewrite(name, edges) { input =>
    val spec = bucketSpecOf(name)
    asEdges(input)
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(spec.numBuckets, "src").sortBy("src")
      .saveAsTable(tableName(name))
  }

  /** Fold a bucketed graph's accumulated append deltas back into one
    * write's worth of bucket files (pre-clustered on `src` so the
    * bucketed write needs no extra exchange and each task emits one
    * bucket file). `dedup` drops exact duplicate edges — optional
    * because the edge list is a multiset on the write path and
    * compaction must default to changing nothing but layout. The
    * snapshot is pinned BEFORE the overwrite: localCheckpoint detaches
    * the rows from the files being replaced, so compaction is safe
    * against its own read (and concurrent pinned readers stay stable,
    * suite-tested). */
  def compactBucketed(name: String, dedup: Boolean = false): Unit = {
    validate(name)
    val spec = bucketSpecOf(name)
    val snap = loadBucketed(name).localCheckpoint(eager = true)
    val data = if (dedup) snap.distinct() else snap
    addGraphBucketed(name,
      data.repartition(spec.numBuckets, col("src")), spec.numBuckets)
  }

  // Hadoop FS API, not java.io.File — the catalog root may be hdfs://
  // or s3a:// (the write/read paths already go through Spark's FS).
  private def fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------------
  // Versioned graphs (time travel) — the snapshot model a 100 TB
  // catalog wants: every commit writes an IMMUTABLE new version dir
  // and then flips a one-line `_latest` pointer (write-temp + atomic
  // rename). Readers resolve the pointer once at load; a version,
  // once resolved, can never be torn or swapped underneath the query
  // — which makes [[loadPinned]]-style materialisation unnecessary on
  // this path. Old versions stay readable (time travel / reproducible
  // reruns) until [[expireVersions]] prunes them.
  // ------------------------------------------------------------------

  private def versionDir(name: String, v: Long) =
    new org.apache.hadoop.fs.Path(s"$root/$name/versions/v$v/edges")
  private def latestPtr(name: String) =
    new org.apache.hadoop.fs.Path(s"$root/$name/_latest")

  /** All committed versions of a graph, ascending. */
  def listVersions(name: String): Seq[Long] = {
    validate(name)
    val dir = new org.apache.hadoop.fs.Path(s"$root/$name/versions")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.drop(1).toLong).sorted
  }

  /** The version [[loadLatest]] resolves, if any commit succeeded. */
  def latestVersion(name: String): Option[Long] = {
    validate(name)
    if (!fs.exists(latestPtr(name))) None
    else {
      val in = fs.open(latestPtr(name))
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Commit a new immutable version; returns its number. The version
    * data lands fully before the pointer flips, and the flip is a
    * RENAME-WITH-OVERWRITE through `FileContext` (atomic on HDFS and
    * the local FS) — the old pointer is never deleted first, so a
    * concurrent reader resolves either the old version or the new one,
    * never "no versions". On object stores without atomic rename, the
    * pointer belongs in a conditional-put catalog service (same
    * contract). Version numbers advance past both the pointer and any
    * orphaned version dirs (a crashed commit's dir without a pointer
    * flip is skipped, never resurrected). */
  def commitVersion(name: String, edges: DataFrame): Long = {
    validate(name)
    val next = (latestVersion(name).getOrElse(-1L) max
      listVersions(name).lastOption.getOrElse(-1L)) + 1
    asEdges(edges)
      .write.mode(SaveMode.ErrorIfExists).parquet(versionDir(name, next).toString)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$name/_latest.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, latestPtr(name), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    next
  }

  /** A version dir is only readable once its write completed —
    * Spark's `_SUCCESS` marker gates both time travel and expiry so a
    * crashed commit's partial files are never served as data. */
  private def versionComplete(name: String, v: Long): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(versionDir(name, v), "_SUCCESS"))

  /** Time-travel read of one immutable, fully-committed version. */
  def loadVersion(name: String, v: Long): DataFrame = {
    validate(name)
    require(fs.exists(versionDir(name, v)) && versionComplete(name, v),
      s"graph $name has no complete version $v")
    readEdges(versionDir(name, v).toString)
  }

  /** Read the latest committed version (resolved once, then stable for
    * the query's lifetime even across concurrent commits). */
  def loadLatest(name: String): DataFrame = {
    val v = latestVersion(name).getOrElse(
      throw new IllegalArgumentException(s"graph $name has no committed versions"))
    loadVersion(name, v)
  }

  /** Prune versions older than `keep` (never the latest). Time travel
    * window management — the catalog's GC. Orphan dirs (a crashed
    * commit: numbered past the pointer, or missing `_SUCCESS`) are
    * garbage, not history — but an IN-FLIGHT commit that has finished
    * its parquet write and not yet flipped the pointer looks identical
    * to a crashed one. Two guards close that race: a past-pointer dir
    * is only deleted when (a) it is older than `orphanGraceMs` (a live
    * commit flips the pointer milliseconds after `_SUCCESS`; a dir
    * still past-pointer after the grace window is a crash), and (b)
    * the pointer, RE-READ immediately before the delete, still does
    * not cover it. Committed-but-expired history (≤ pointer) has no
    * race — the pointer can only move away from it. */
  def expireVersions(name: String, keep: Int = 1,
                     orphanGraceMs: Long = 10L * 60 * 1000): Unit = {
    validate(name)
    require(keep >= 1, "must keep at least the latest version")
    val latest = latestVersion(name).getOrElse(return)
    val (orphans, committed) = listVersions(name)
      .partition(v => v > latest || !versionComplete(name, v))
    val expired = committed.filter(_ != latest).sorted.reverse.drop(keep - 1)
    val now = System.currentTimeMillis()
    val agedOrphans = orphans.filter { v =>
      // age off the edges subdir when it exists, else the parent v$v
      // dir (the path actually deleted): a commit that crashed before
      // the parquet write even started leaves only the parent, and
      // treating that as "not aged" would exempt it from GC forever
      val stat =
        try Some(fs.getFileStatus(versionDir(name, v)))
        catch {
          case _: java.io.FileNotFoundException =>
            try Some(fs.getFileStatus(
              new org.apache.hadoop.fs.Path(s"$root/$name/versions/v$v")))
            catch { case _: java.io.FileNotFoundException => None } // vanished already
        }
      stat.exists(st => now - st.getModificationTime > orphanGraceMs)
    }
    agedOrphans.foreach { v =>
      // pointer re-read PER DIR, immediately before its delete — a
      // commit may have flipped the pointer to cover v at any point
      // since the listing above
      if (latestVersion(name).forall(l2 => v > l2 || !versionComplete(name, v)))
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/$name/versions/v$v"), true)
    }
    expired.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$name/versions/v$v"), true)
    }
  }

  def exists(name: String): Boolean = {
    validate(name)
    fs.exists(new org.apache.hadoop.fs.Path(edgePath(name)))
  }

  def listGraphs(): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "edges")))
      .map(_.getPath.getName).sorted
  }

  /** Reference op=4 routed through the catalog. */
  def bfs(name: String, start: Long): DataFrame = Traversals.bfs(load(name), start)

  /** Reference op=3 routed through the catalog. */
  def dfsLeaves(name: String, start: Long): DataFrame = Traversals.dfsLeaves(load(name), start)
}
