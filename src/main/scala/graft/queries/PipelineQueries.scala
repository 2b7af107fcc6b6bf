package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{Dedup, Similarity}
import graft.multimodal.Multimodal
import SessionMemo.{deleteRecursively, shared}
import Tables.t

/** Training-data pipeline operators over the `documents` and
  * `embeddings` fixtures: deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, LSH+edit-distance, transitive-closure clusters),
  * similarity search (brute-force cosine top-k, an IVF-bucketed scale
  * path, Lloyd k-means centroid training), and text analysis (tokens,
  * quality, language-ID, fingerprints, bigrams, splits).
  *
  * Everything is built from hash/string/arithmetic primitives that are
  * bit-identical across engines (md5, explicit left folds, integer
  * ratios), so each operator — including MinHash — carries an exact
  * DuckDB oracle.
  *
  * Scale notes: near-dup candidate generation is LSH-band or
  * bucket-join based (never an unbucketed O(n²) cross join); the
  * brute-force ANN baseline broadcasts the single query vector; the
  * IVF variant broadcasts the (tiny) centroid table and prunes to one
  * cell before scoring.
  */
object PipelineQueries {

  /** Session-scoped memo of the documents corpus' MinHash signature
    * table, keyed on (session, dataset dir, k, shingleN). Four gate
    * queries (q_dedup_minhash / q_dedup_editdist / q_dedup_cluster /
    * q_dedup_pipeline) band-join or rescore the SAME signatures, and
    * each recomputing the signature aggregation independently was
    * ~8.6 s of the 43 s sf0.1 bench (BENCH_r04). The table is pinned
    * with an eager localCheckpoint; entries are keyed by the session
    * object, so a fresh session (whose context can't read another
    * context's checkpoint blocks) recomputes instead of misreading.
    * Size: one (doc_id, 16×8-char array) row per doc per corpus —
    * negligible next to the corpus itself. */
  private def docSignatures(s: SparkSession, d: String,
                            k: Int = 16, shingleN: Int = 3): DataFrame =
    shared(s, d, s"sig_k${k}_n$shingleN", Tables.fingerprint(s, d, "documents"))(
      Dedup.minhashSignatures(t(s, d, "documents"), k, shingleN)
        .localCheckpoint(true))

  /** Session-scoped memo of the symmetric MinHash band-candidate
    * table (doc_a, doc_b distinct; k=16, bands=4) — the second reusable
    * artifact of the production dedup pattern: compute the candidate
    * GRAPH once over the persisted signatures, then rescore it many
    * times (Jaccard estimate at two thresholds, banded edit distance)
    * without re-paying the band explode + mega-bucket salt agg +
    * self-join per query (measured ~0.5-0.8 s each at sf0.1 after the
    * r10 salting guard; 4 gate queries consume it). The (k, bands,
    * shingleN) metadata stamp travels with the table, so a consumer
    * expecting different banding fails fast instead of silently
    * changing recall. */
  private def docCandidates(s: SparkSession, d: String): DataFrame =
    memoTable(s, d, "minhash_cand_k16_b4")(
      graft.operators.Dedup.minhashBandCandidates(
        t(s, d, "documents"), k = 16, bands = 4,
        sigOpt = Some(docSignatures(s, d))))

  /** Session-scoped memo for the OTHER persisted signature tables the
    * dedup family reuses across invocations (wide-SimHash signatures,
    * n-gram shingle sets) — same lifecycle contract and rationale as
    * [[docSignatures]]: a production pipeline computes each once, persists
    * it, and every downstream dedup pass joins against the pinned
    * table instead of re-running the corpus-wide aggregation. */
  private def memoTable(s: SparkSession, d: String, tag: String)
                       (build: => DataFrame): DataFrame =
    shared(s, d, tag, Tables.fingerprint(s, d, "documents"))(
      build.localCheckpoint(true))

  /** The corpus band index ([[Dedup.corpusBandIndex]] over the
    * doc_id % 5 ≠ 0 "existing corpus") persisted as a PARQUET-backed
    * catalog table ([[stagedTable]]), NOT a checkpoint memo — for a
    * plan-statistics reason, found diagnosing the r14 q_dedup_
    * incremental floor drift: `localCheckpoint` snapshots the
    * PRE-materialization size estimate into the LogicalRDD's stats,
    * and the index's build plan contains a join, so Catalyst carried
    * a ~32 GB estimate for a ~1 MB artifact. Every consumer then
    * planned against fiction: probe joins were judged un-broadcastable
    * at optimize time and InjectRuntimeFilter fired two bloom-filter
    * subqueries (4 extra jobs/rep) whose build and application keys
    * were slices of the SAME table — selectivity ~1 at any scale. A
    * file-backed scan reports its real bytes, so probes plan broadcast
    * hash joins statically and no runtime filter is injected. It is
    * also literally the production artifact the operator's scaladoc
    * promises: "computed once per corpus generation, persisted right
    * next to the signature table". Shared by q_dedup_incremental and
    * q_stream_dedup_corpus. */
  private def corpusBandIdx(s: SparkSession, d: String): DataFrame =
    stagedTable(s, d, "corpus_band_idx")(
      Dedup.corpusBandIndex(
        docSignatures(s, d).where(col("doc_id") % 5 =!= 0)))

  /** Stages `build`'s output as a parquet-backed catalog table in
    * [[SessionMemo]] (built once per (session, dataset, tag, source
    * fingerprint), released on refresh, swept on session stop). Use
    * this instead of [[memoTable]] when DOWNSTREAM PLANS matter: a
    * checkpoint memo's LogicalRDD carries the pre-materialization size
    * ESTIMATE (a join in the build plan → a multi-GB guess for a ~1 MB
    * artifact — see [[corpusBandIdx]]), while a file-backed scan
    * reports real bytes, so consumers get static broadcast joins and
    * skip runtime-filter subqueries. The key carries the fingerprint
    * of `fpTable`, the table the artifact derives from (r15 review: a
    * stale corpus index probed by fresh batch signatures would
    * silently diverge from the oracle); every current caller is
    * documents-derived. */
  private def stagedTable(s: SparkSession, d: String, tag: String,
                          fpTable: String = "documents")
                         (build: => DataFrame): DataFrame =
    shared.table(s, d, tag, Tables.fingerprint(s, d, fpTable)) { (name, dir) =>
      build.write.format("parquet").mode("overwrite")
        .option("path", dir.resolve("t").toString)
        .saveAsTable(name)
    }

  /** LSH-bucketed embedding near-dup pairs (i, j, cos >= minCos):
    * candidates from random-hyperplane buckets ([[Similarity.lshBuckets]],
    * 8 planes) + exact codegen'd cosine rescore. NEVER all-pairs within
    * a data-dependent group — a label/category equi-join is O(n²)
    * inside a skewed group at 100 TB, while bucket population tracks
    * near-dup density, not corpus size, and the bucket equi-join is a
    * plain shuffle join. Shared by q_dedup_embed (pair listing) and
    * q_dedup_embed_cluster (transitive closure). */
  /** Stages one chunk of documents as a single flat parquet FILE in
    * `streamDir` (file-stream sources list data files, not Spark
    * dataset directories): Spark writes to an underscore-prefixed
    * stage dir — invisible to the source's file listing — and the one
    * part file moves up as `<tag>.parquet`. */
  private[graft] def stageDocsChunk(df: DataFrame, streamDir: java.nio.file.Path,
                                    tag: String): Unit = {
    val stage = streamDir.resolve(s"_stage_$tag")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val ls = java.nio.file.Files.list(stage)
    try {
      val it = ls.iterator()
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.move(f, streamDir.resolve(s"$tag.parquet"))
      }
    } finally ls.close()
    deleteRecursively(stage)
  }

  /** The IVF cell assignment (vec_id, v, cid; centroids = vec_ids
    * 1–8, same as q_embed_ivf) persisted as a catalog table
    * PARTITIONED by cid — each cell its own directory, the inverted-
    * list layout ANN indexes use on disk, so a literal-cid probe
    * prunes to one cell's files before any row is read. (bucketBy was
    * measured first: Spark's planner auto-disables bucketed scans for
    * filter-only probes — "Bucketed: false (disabled by query
    * planner)" — so bucket pruning never fired; directory partitioning
    * prunes in the FileIndex regardless of the plan shape.) Staged
    * as a [[SessionMemo.table]] keyed on the embeddings fingerprint. */
  private def ivfIndex(s: SparkSession, d: String): DataFrame =
    shared.table(s, d, "ivf_index", Tables.fingerprint(s, d, "embeddings")) { (name, dir) =>
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      Similarity.assignCells(e, cents)
        .write.format("parquet").mode("overwrite")
        .partitionBy("cid")
        .option("path", dir.resolve("index").toString)
        .saveAsTable(name)
    }

  /** Memoized blockhash perceptual NEAR-dup pair set (doc_a, doc_b,
    * hamming dist <= 3) over the opaque payload — the image near-dup
    * stage next to the exact content-hash dedup (with a real decoder
    * the byte stream is pixel data and block-mean hashing is the
    * standard perceptual hash; the byte-stream stand-in keeps the
    * dataflow and the algebra real): 64 POSITION segments per payload
    * (seg = i*64 div nbytes — length-invariant, so a truncated/
    * re-encoded copy keeps most bits), bit k set iff segment
    * byte-sum * 64 > total byte-sum (integer cross-multiplication, no
    * float mean), packed into 4x16-bit bands. Candidates = band-LSH
    * equi-join — by pigeonhole every hamming <= 3 pair collides on
    * >= 1 band (the q_dedup_simhash_near guarantee); rescore =
    * codegen'd popcount over the 4 band XORs. Scale: 2^16-value band
    * keys keep buckets tracking clone density, not corpus size; never
    * all-pairs. Memoized (memoTable) because two gate entries consume
    * it: the pair listing and the cross-modal agreement readout. */
  private def phashPairs(s: SparkSession, d: String): DataFrame =
    memoTable(s, d, "phash_pairs_d3") {

      val by = t(s, d, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).as("nb"),
          posexplode(split(col("text"), "")))
        .toDF("doc_id", "nb", "i", "c")
        .where(col("c") =!= "")
        // exact integer division for the segment id — a double divide
        // + floor can land 1 ulp above an exact boundary and disagree
        // with the oracle's `//`
        .select(col("doc_id"), expr("cast((i * 64) div nb AS INT)").as("seg"),
          ascii(col("c")).cast("long").as("b"))
      val sg = by.groupBy("doc_id", "seg").agg(sum("b").as("ssum"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      val bits = sg.withColumn("total", sum("ssum").over(w))
        .select(col("doc_id"), col("seg"),
          when(col("ssum") * 64 > col("total"), lit(1L)).otherwise(lit(0L)).as("bit"))
      val ph = bits.groupBy("doc_id")
        .agg(sum(when(floor(col("seg") / 16) === 0,
            expr("shiftleft(bit, cast(seg % 16 AS INT))")).otherwise(lit(0L)))
            .cast("long").as("p0"),
          (1 until 4).map(j =>
            sum(when(floor(col("seg") / 16) === j,
              expr("shiftleft(bit, cast(seg % 16 AS INT))")).otherwise(lit(0L)))
              .cast("long").as(s"p$j")): _*)
        .localCheckpoint(true) // the band self-join reads it twice
      val banded = ph.select(col("doc_id"),
          col("p0"), col("p1"), col("p2"), col("p3"),
          posexplode(array(col("p0"), col("p1"), col("p2"), col("p3"))))
        .toDF("doc_id", "p0", "p1", "p2", "p3", "band_id", "bkey")
      banded.as("a").join(banded.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.p0").as("a0"), col("a.p1").as("a1"),
          col("a.p2").as("a2"), col("a.p3").as("a3"),
          col("b.p0").as("b0"), col("b.p1").as("b1"),
          col("b.p2").as("b2"), col("b.p3").as("b3"))
        .distinct()
        .select(col("doc_a"), col("doc_b"),
          expr("bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + " +
            "bit_count(a2 ^ b2) + bit_count(a3 ^ b3)").cast("int").as("dist"))
        .where(col("dist") <= 3)
    }

  /** In-radius neighbour pairs (i, j), BOTH orders, i ≠ j, over the
    * 2-D projection of the embeddings (dims 1–2) via grid bucketing:
    * cell size = radius = 2⁻⁵ (exact in binary, so the grid floor and
    * the d² ≤ r² refine agree bit-for-bit cross-engine), one side
    * home-celled, the other exploded into its 3×3 cell neighbourhood
    * so candidates are a density-bounded EQUI-join on the cell key.
    * Shared by q_spatial_join (census), q_spatial_dbscan (clustering)
    * and the auto-radius sibling — one definition, no drift. The
    * radius parameter stays a power of two (callers pass 2^−e) so the
    * exact-in-binary guarantees hold at every scale. */
  private def spatialPairs(s: SparkSession, d: String,
                           r: Double = 0.03125): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        element_at(col("v"), 1).as("x"), element_at(col("v"), 2).as("y"))
      .withColumn("cx", floor(col("x") / r).cast("long"))
      .withColumn("cy", floor(col("y") / r).cast("long"))
      .localCheckpoint(true) // both join sides read the same grid
    val a9 = e.select(col("vec_id").as("i"), col("x").as("xi"), col("y").as("yi"),
        col("cx").as("cx0"), col("cy").as("cy0"))
      .select(col("i"), col("xi"), col("yi"),
        expr("inline(transform(sequence(0, 8), " +
          "t -> struct(cx0 + (t div 3 - 1) as cx, cy0 + (t % 3 - 1) as cy)))"))
    val b = e.select(col("vec_id").as("j"), col("x").as("xj"),
      col("y").as("yj"), col("cx"), col("cy"))
    a9.join(b, Seq("cx", "cy"))
      .where(col("i") =!= col("j"))
      .where((col("xi") - col("xj")) * (col("xi") - col("xj")) +
        (col("yi") - col("yj")) * (col("yi") - col("yj")) <= r * r)
      .select("i", "j")
  }

  /** The DBSCAN census over an in-radius pair relation: core = ≥ 4
    * neighbours; clusters = pointer-jumped CC of the core–core graph
    * (self-edges keep isolated cores; label = min vec_id); border
    * attaches to the min core-neighbour label. Shared by the fixed-
    * and auto-radius entries — one definition, no drift. */
  private def dbscanCensus(rawPairs: DataFrame): DataFrame = {
    val pairs = rawPairs.localCheckpoint(true)
    val core = pairs.groupBy("i").agg(count(lit(1)).as("n_nb"))
      .where(col("n_nb") >= 4).select(col("i").as("v"))
      .localCheckpoint(true) // three consumers below
    val coreEdges = pairs
      .join(core.select(col("v").as("i")), "i")
      .join(core.select(col("v").as("j")), "j")
      .select(col("i").as("src"), col("j").as("dst"))
      .unionByName(core.select(col("v").as("src"), col("v").as("dst")))
    // hash-to-min contraction (2 rounds) before the pointer-jumping
    // loop: DBSCAN core graphs are exactly the high-average-degree
    // regime where contraction collapses the graph under the
    // driver-held bound (sf10 auto: 1.67 M edges → 49 k; exactness
    // argument in Traversals.contractedComponents's scaladoc)
    val comp = graft.operators.Traversals.contractedComponents(coreEdges)
    val border = pairs
      .join(core.select(col("v").as("j")), "j")
      .join(comp.select(col("vertex").as("j"), col("component")), "j")
      .join(core.select(col("v").as("i")), Seq("i"), "left_anti")
      .groupBy(col("i")).agg(min(col("component")).as("component"))
    comp.select(col("vertex").as("i"), col("component"), lit(1L).as("is_core"))
      .unionByName(
        border.select(col("i"), col("component"), lit(0L).as("is_core")))
      .groupBy("component")
      .agg(count(lit(1)).as("sz"),
        sum(col("is_core")).as("n_core"),
        sum(lit(1L) - col("is_core")).as("n_border"))
      .orderBy("component")
  }

  /** The NSW proximity graph as a session-staged INDEX artifact keyed
    * on (k, corpus fingerprint) — bench reps time the greedy ROUTE,
    * not the per-fixture graph build (r17 ADVICE; the ivf_indexed /
    * ivm_base staging convention; k folded into the tag per r18
    * ADVICE — a caller passing a different k must never reuse a stale
    * memoized graph). Built over corpus vectors ONLY: vec_id 0 is
    * the query — keeping it as a routable vertex would let the walk
    * terminate on the query itself (cosine 1.0), degenerating the
    * routed search to self-retrieval (r17 ADVICE).
    *
    * Topology (r18 verdict item 1 — the r17 graph kept only each
    * vector's 5 nearest IN-CELL neighbours, so every edge was
    * intra-cell, greedy routing could never leave its entry cells,
    * and NswProbe measured recall@1 ≈ 0; "small world" needs LONG
    * edges, both across cells and across each cell's diameter):
    *   - `deg` nearest in-cell neighbours (proximity edges);
    *   - in-cell SKIP edges at ranks 16/64/256 (Vamana/DiskANN-style
    *     exponentially spaced long links, so a descent entering at a
    *     cell's centroid crosses the cell's diameter in O(log) hops
    *     instead of stalling in the centroid's mutual-NN clique);
    *   - `links` CROSS-CELL links: the nearest member of each of
    *     `links` hash-designated foreign cells, fcid = 1 + ((src mod
    *     3000017) · 2654435761 + j) mod k for j ∈ {0..links−1}
    *     (integer-exact and oracle-re-derivable; the inner mod keeps
    *     the product BIGINT-safe at any corpus size). Kleinberg's
    *     long-range construction: deterministic escape hatches out of
    *     the entry cells.
    * Build work stays ~n·((1+links)·targetCell): the local join meets
    * one cell's members, the far join the designated cells' members —
    * never all-pairs. Max out-degree deg+3+links (default 19 =
    * 12+3+4), so per-hop driver collects stay ≤ beam·degree ids.
    *
    * The two topology knobs are the r19-verdict levers (search width
    * was measured exhausted — beam 16 bought +1/32 recall for 2×
    * cost, so the remaining lever is the GRAPH): `deg` = in-cell
    * nearest-neighbour count, `links` = hash-designated cross-cell
    * long links. Both fold into the staging tag (a caller pricing a
    * variant must never reuse a stale memoized graph) and both are
    * integer-exact in the oracle re-derivation. DEFAULT RE-PINNED
    * r20 (5,2) → (12,4) on the NswProbe grid: at sf10 under the
    * pinned beam-8/8-hop search, recall@1 0.50 → 0.625, in-top-10
    * 21/32 → 26/32, endpoint cosine 0.911 → 0.951, for 1.9× edges
    * at an UNCHANGED build wall (83 s vs 76 s at sf10 — the build is
    * join-scheduling-bound, not edge-count-bound) and unchanged
    * route cost. The next rung up, (16,6), measures IDENTICAL
    * (20/32, 0.953): the topology lever saturates here — further
    * recall must come from a different graph family (true kNN-descent
    * refinement), which is the documented stop. */
  private[graft] def nswGraph(s: SparkSession, d: String, k: Int,
      deg: Int = 12, links: Int = 4): DataFrame =
    shared.table(s, d, s"nsw_graph_${k}_${deg}_${links}",
        Tables.fingerprint(s, d, "embeddings")) { (name, dir) =>
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .where(col("vec_id") =!= 0)
      val cents = e.where(col("vec_id").between(1, k))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val a = Similarity.assignCells(e, cents)
      val ax = a.select(col("vec_id").as("src"), col("v").as("sv"), col("cid"))
      val ay = a.select(col("vec_id").as("dst"), col("v").as("dv"), col("cid"))
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("d2"), col("dst"))
      val local = ax.join(ay, "cid").where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"), expr("l2sq_fold(sv, dv)").as("d2"))
        .withColumn("rk", row_number().over(wg))
        .where(col("rk") <= deg || col("rk").isin(16, 64, 256))
        .select("src", "dst")
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src"), col("j")).orderBy(col("d2"), col("dst"))
      val far = ax
        .withColumn("j", explode(sequence(lit(0), lit(links - 1))))
        .withColumn("fcid",
          ((col("src") % 3000017L) * 2654435761L + col("j")) % k + 1)
        .where(col("fcid") =!= col("cid"))
        .join(ay.withColumnRenamed("cid", "fcid"), "fcid")
        .where(col("src") =!= col("dst"))
        .select(col("src"), col("j"), col("dst"),
          expr("l2sq_fold(sv, dv)").as("d2"))
        .withColumn("rk", row_number().over(wf)).where(col("rk") === 1)
        .select("src", "dst")
      // far edges land in cells ≠ own cell, local edges inside it —
      // the union is duplicate-free by construction, no distinct
      local.unionByName(far)
        .write.format("parquet").mode("overwrite")
        .option("path", dir.resolve("g").toString).saveAsTable(name)
    }

  /** One job fetching the 2-HOP adjacency ball around `srcIds` over
    * the staged proximity graph: the out-edges of srcIds UNION the
    * out-edges of their neighbours, as a driver adjacency map. Row
    * count is bounded by |srcIds|·maxDeg·(maxDeg+1) — a topology
    * constant (≤ ~3k rows at beam 8, degree 19), the same
    * metadata-scale collect class as the per-hop neighbour reads it
    * replaces. r21 (guide §1.1/§2.6): the walk's critical path was 2
    * driver-scheduled jobs PER HOP (neighbour fetch, then scoring) —
    * fetching the 2-hop ball and scoring it once serves TWO hops per
    * round-trip, halving the job count without changing a single
    * candidate set (hop h+1's frontier ⊆ ball(h), so its neighbour
    * lists and scores are already on the driver). */
  private def twoHopBall(g: DataFrame, srcIds: Seq[Long]): Map[Long, Seq[Long]] = {
    val a1 = g.where(col("src").isin(srcIds: _*))
      .select(col("src"), col("dst"))
    val layer2 = a1.select(col("dst").as("m")).distinct()
      .join(g.alias("b"), col("m") === col("b.src"))
      .select(col("b.src").as("src"), col("b.dst").as("dst"))
    a1.unionByName(layer2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  /** The beam-8 / 8-hop routed walk over [[nswGraph]] (the
    * NswProbe-measured best config, r19): entry frontier = best-8 of
    * the k cell centroids, per hop keep the best-8 of {frontier} ∪
    * neighbours(frontier). Returns the hop-indexed frontier trace
    * (hop, rank, vertex, rawScore) plus k — shared by the beam gate
    * entry (which prints the trace) and the recall readout (which
    * scores the final frontier). Driver touches only metadata-scale
    * rows: ≤ 8·19·20 ball edges per round-trip, pushed-filter scoring
    * scans. r21: hops run TWO per round-trip off the [[twoHopBall]] —
    * the scoring job collects (id, raw cosine) for the whole ball and
    * the best-8 selection happens on the driver under the identical
    * (score desc NaN-first, vec_id asc) total order the old
    * orderBy().limit(8) job applied, so every frontier is
    * bit-identical (Wave35Spec pins the trace against the one-job-
    * per-hop shape). */
  private[graft] def nswBeamTrace(
      s: SparkSession, d: String): (Seq[(Int, Int, Long, Double)], Int) =
    nswBeamTrace(s, d, twoHopRounds = true)

  private[graft] def nswBeamTrace(s: SparkSession, d: String,
      twoHopRounds: Boolean): (Seq[(Int, Int, Long, Double)], Int) = {
    graft.functions.expressions.GraftFunctions.register(s)
    val emb = t(s, d, "embeddings")
    val k = Similarity.autoCellCount(emb.count())
    val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .localCheckpoint(true) // probed once per round-trip
    val g = nswGraph(s, d, k)
    val q0 = e.where(col("vec_id") === 0).select(col("v").as("qv"))
    def topB(cands: Seq[Long]): Seq[(Long, Double)] =
      e.where(col("vec_id").isin(cands: _*))
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), expr("cosine_sim(v, qv)").as("sc"))
        .orderBy(col("sc").desc, col("vec_id")).limit(8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    var frontier = topB((1L to k.toLong))
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Double)]
    def record(hop: Int): Unit = frontier.zipWithIndex.foreach {
      case ((vid, sc), i) => trace += ((hop, i + 1, vid, sc))
    }
    record(0)
    if (twoHopRounds) {
      (1 to 4).foreach { pair =>
        val fIds = frontier.map(_._1)
        val adj = twoHopBall(g, fIds)
        val ids = (fIds ++ adj.keys ++ adj.values.flatten).distinct
        // ONE scoring job for the ball: same cosine_sim expression,
        // same rows — the doubles are the ones the per-hop job read
        val sc = e.where(col("vec_id").isin(ids: _*))
          .crossJoin(broadcast(q0))
          .select(col("vec_id"), expr("cosine_sim(v, qv)").as("sc"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        // Spark's (sc DESC, vec_id ASC): Double.compare puts NaN
        // largest, so desc-first — reproduced exactly
        def top8(cands: Seq[Long]): Seq[(Long, Double)] =
          cands.distinct.map(v => (v, sc(v))).sortWith { (a, b) =>
            val c = java.lang.Double.compare(b._2, a._2)
            c < 0 || (c == 0 && a._1 < b._1)
          }.take(8)
        def expand(f: Seq[(Long, Double)]): Seq[Long] = {
          val idsF = f.map(_._1)
          (idsF.flatMap(v => adj.getOrElse(v, Seq.empty)) ++ idsF).distinct
        }
        frontier = top8(expand(frontier)); record(2 * pair - 1)
        frontier = top8(expand(frontier)); record(2 * pair)
      }
    } else (1 to 8).foreach { hop =>
      val nbrs = g.where(col("src").isin(frontier.map(_._1): _*))
        .collect().map(_.getLong(1)).toSeq
      frontier = topB((nbrs ++ frontier.map(_._1)).distinct)
      record(hop)
    }
    (trace.toSeq, k)
  }

  /** The sparse-retrieval POSTINGS index (r18 verdict item 3): one
    * denormalized row per (term, doc) posting carrying everything the
    * BM25 score needs — tf, dl, df, and the corpus totals n_docs /
    * total_len as constant DOUBLE columns (RLE-compressed to nothing
    * on disk; stored pre-cast so the probe's arithmetic is
    * bit-identical to the scan-bound sibling's, which casts the
    * totals to double before dividing). Session-staged keyed on the
    * documents fingerprint — a probe reads ONLY the query's terms'
    * rows (pushed `term IN (...)` filter), never re-tokenizes the
    * corpus: the inverted-file layout a production sparse index
    * maintains. */
  private def postingsIndex(s: SparkSession, d: String): DataFrame =
    stagedTable(s, d, "postings") {
      val tok = t(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .localCheckpoint(true) // feeds tf, df AND dl
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val df_ = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val tots = dl.agg(count(lit(1)).cast("double").as("n_docs"),
        sum("dl").cast("double").as("total_len"))
      // range-partitioned + sorted BY TERM: the probe's `term IN`
      // filter then prunes at parquet row-group min/max stats (the
      // on-disk inverted-file ordering — an unsorted layout scans
      // every row group because a query term can hide anywhere)
      tf.join(dl, "doc_id").join(df_, "term").crossJoin(broadcast(tots))
        .select(col("term"), col("doc_id"), col("tf"), col("dl"),
          col("df"), col("n_docs"), col("total_len"))
        .repartitionByRange(32, col("term"))
        .sortWithinPartitions("term", "doc_id")
    }

  /** The hybrid dense-leg index: the corpus cell assignment over
    * autoCellCount(n) cells (centroids = vec_ids 1..k, the family's
    * convention), persisted PARTITIONED by cid — one directory per
    * cell, so a probe's `cid IN (...)` filter prunes at the FileIndex
    * before any row is read (the ivf_indexed layout, finer-grained:
    * ~500-row cells instead of 8 corpus-sized ones, which is what
    * gives [[hybridDenseTop20]]'s bounds something to prune). */
  private def hybridDenseIdx(s: SparkSession, d: String): DataFrame =
    shared.table(s, d, "hyb_dense", Tables.fingerprint(s, d, "embeddings")) { (name, dir) =>
      graft.functions.expressions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val k = Similarity.autoCellCount(emb.count())
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, k))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      // one file per cell (repartition on the partition column before
      // the partitioned write) — the default layout fragments every
      // cell across all 32 shuffle partitions (≈ k·32 tiny files) and
      // the probe's scan pays file-open latency instead of IO
      Similarity.assignCells(e, cents)
        .repartition(col("cid"))
        .write.format("parquet").mode("overwrite")
        .partitionBy("cid")
        .option("path", dir.resolve("t").toString).saveAsTable(name)
    }

  /** Per-cell pruning statistics for the exact bound-pruned dense
    * probe: centroid vector plus max member-to-centroid L2² (r²),
    * min/max member norm² — k rows, staged next to the index. */
  private def hybridCellStats(s: SparkSession, d: String): DataFrame =
    shared.table(s, d, "hyb_stats", Tables.fingerprint(s, d, "embeddings")) { (name, dir) =>
      graft.functions.expressions.GraftFunctions.register(s)
      val idx = hybridDenseIdx(s, d)
      val k = Similarity.autoCellCount(t(s, d, "embeddings").count())
      // centroid vector = the vector of vec_id c (the assignment's
      // centroid set), keyed by the CELL it names — not by the cell
      // that vector happens to be assigned to
      val cvs = idx.where(col("vec_id").between(1, k))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      idx.where(col("vec_id") =!= 0)
        .join(broadcast(cvs), "cid")
        .select(col("cid"), expr("l2sq_fold(v, cv)").as("d2"),
          expr("dot_fold(v, v)").as("n2"))
        .groupBy("cid")
        .agg(max("d2").as("r2max"), min("n2").as("minn2"),
          max("n2").as("maxn2"))
        .join(broadcast(cvs), "cid")
        .write.format("parquet").mode("overwrite")
        .option("path", dir.resolve("t").toString).saveAsTable(name)
    }

  /** EXACT dense top-20 via bound-pruned index probe — provably
    * identical to the scan-bound brute force, reading only the cells
    * a sound upper bound cannot exclude (classic branch-and-bound
    * exact k-NN over an IVF layout). For any member x of cell c
    * (centroid cv, radius r = √r2max, norms in [√minn2, √maxn2]):
    * q·x = q·cv + q·(x−cv) ≤ q·cv + |q|·r (Cauchy–Schwarz), so
    * cos(q,x) ≤ max(num/(|q|·minNorm), num/(|q|·maxNorm)) with
    * num = q·cv + |q|r — the max over both norm extremes keeps the
    * bound valid for either sign of num. τ = the 20th-best RAW
    * cosine inside the query's own cell; cells with ub < τ − 0.001
    * are pruned. Soundness of the margin under the sibling's
    * ROUNDED ordering: raw ≥ τ ⇒ round4 ≥ round4(τ) (round is
    * monotone), and pruned rows have raw < τ − 0.001 ⇒ round4
    * strictly below round4(τ) by ≥ 9 quanta — they cannot enter the
    * top-20 even by tiebreak, so the probed result is bit-identical
    * to the full scan. Driver touches only metadata-scale rows (the
    * 1-row query lookup, ≤ 20 τ scores, ≤ k cell bounds — the
    * ivf_indexed precedent). When the query's cell holds < 20
    * corpus rows, τ = −2 and every cell qualifies: correct,
    * just unpruned. */
  private def hybridDenseTop20(s: SparkSession, d: String): DataFrame = {
    val (idx, qv, candAll) = hybridDenseCandCells(s, d)
    val k = Similarity.autoCellCount(t(s, d, "embeddings").count())
    // when the bounds exclude nothing (isotropic high-dim data — the
    // honest geometry where exact pruning cannot bite; BASELINE.md
    // r19 census), skip the k-literal partition filter: it buys no
    // pruning and costs per-partition scan setup
    val scoped = if (candAll.size >= k) idx
                 else idx.where(col("cid").isin(candAll: _*))
    scoped.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(expr("cosine_sim(v, qv)"), 4).as("d_score"))
      .orderBy(col("d_score").desc, col("doc_id")).limit(20)
  }

  /** The bound-pruning half of [[hybridDenseTop20]], split out so the
    * scale probes can report the cells-scanned census directly:
    * returns (index, broadcastable 1-row query vector, candidate cell
    * ids the bounds could not exclude). */
  private[graft] def hybridDenseCandCells(
      s: SparkSession, d: String): (DataFrame, DataFrame, Seq[Long]) = {
    graft.functions.expressions.GraftFunctions.register(s)
    val idx = hybridDenseIdx(s, d)
    val stats = hybridCellStats(s, d)
    val qRow = idx.where(col("vec_id") === 0)
      .select(col("cid"), col("v")).head()
    val qcid = qRow.getLong(0)
    val qv = idx.sparkSession.createDataFrame(
      java.util.List.of(qRow), qRow.schema).select(col("v").as("qv"))
    val own = idx.where(col("cid") === qcid && col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(expr("cosine_sim(v, qv)").as("sc"))
      .orderBy(col("sc").desc).limit(20).collect()
    val tau = if (own.length < 20) -2.0 else own.last.getDouble(0)
    val bounds = stats.crossJoin(broadcast(qv))
      .select(col("cid"), col("minn2"),
        (expr("dot_fold(cv, qv)") +
          sqrt(expr("dot_fold(qv, qv)")) * sqrt(col("r2max"))).as("num"),
        sqrt(expr("dot_fold(qv, qv)")).as("qn"),
        sqrt(col("minn2")).as("mn"), sqrt(col("maxn2")).as("mx"))
      .select(col("cid"),
        when(col("minn2") <= 0.0, lit(Double.MaxValue))
          .otherwise(greatest(col("num") / (col("qn") * col("mn")),
            col("num") / (col("qn") * col("mx")))).as("ub"))
    val cand = bounds.where(col("ub") >= tau - 0.001)
      .select("cid").collect().map(_.getLong(0)).toSeq
    (idx, qv, (cand :+ qcid).distinct)
  }

  private def embedLshPairs(s: SparkSession, d: String,
                            minCos: Double = 0.4,
                            planesPerBand: Int = 8): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(s)
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    // 4 bands × 8 planes with OR-amplification: a single 8-bit bucket
    // misses ~31% of cosine-0.99 pairs (one flipped sign bit splits
    // the bucket); any-band collision recovers them the same way
    // MinHash banding does. GEOMETRY IS THE SCALE KNOB (r15,
    // measured): at fixed 256 buckets/band the candidate volume
    // Σ C(n_b,2) is quadratic in per-bucket density — 453M pairs at
    // 200k vectors (sf10), whose vector-carrying rescore shuffle
    // exceeds any sane spill budget; planesPerBand ≈
    // log2(corpus/targetBucket) returns it to ~linear (12 planes →
    // 45M candidates, 10.1× less; LshScaleProbe). The gate pins 8
    // because the candidate set IS this entry's oracle semantics at
    // fixture SFs. ONE pin (repo self-join rule), on the
    // NARROW (vec_id, band_id, bucket) band table: its 32-dot_fold
    // projection feeds both sides of the self-join (measured: pinned
    // 1.53 s vs unpinned 2.44 s at sf0.1 — ReuseExchange does NOT
    // dedupe the aliased sides here), while checkpointing vectors per
    // band row would materialise the corpus 4x (measured 1.88 s). The
    // vector table stays a bare columnar scan re-read by the two
    // rescore joins. Candidates dedup BEFORE the rescore so a pair
    // colliding in several bands scores once.
    val raw = Similarity
      .lshBandBuckets(e, bands = 4, planesPerBand = planesPerBand, dims = 64)
      .localCheckpoint(true)
    // ADAPTIVE mega-bucket guard (no-op on organic data, cap » bucket
    // p99.9): a degenerate embedding column collapses every vector
    // into one 8-bit bucket per band; salting bounds the self-join
    // output at O(n × cap) per band instead of O(n²) — and the salt
    // join is only paid when splitCounts actually reports a split
    val (bands, _) = Similarity.adaptiveSalt(raw,
      Seq("band_id", "bucket"), "vec_id", Similarity.maxBucketDefault)
    val cand = bands.select(col("vec_id").as("i"), col("band_id"), col("bucket"), col("salt"))
      .join(bands.select(col("vec_id").as("j"), col("band_id"), col("bucket"), col("salt")),
        Seq("band_id", "bucket", "salt"))
      .where(col("i") < col("j"))
      .select("i", "j").distinct()
    val joined = cand
      .join(e.select(col("vec_id").as("i"), col("v").as("va")), "i")
      .join(e.select(col("vec_id").as("j"), col("v").as("vb")), "j")
    joined
      .select(col("i"), col("j"), round(expr("cosine_sim(va, vb)"), 4).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** The q_embed_pca pipeline body over an arbitrary (vec_id,
    * embedding) source — shared by the full-corpus entry and the
    * hash-deterministic SAMPLED entry (q_embed_pca_sampled, the
    * capacity path past the exact-decimal n ≈ 10⁵ ceiling). All the
    * float-discipline invariants documented at the q_embed_pca call
    * site hold for any row subset: the scaled centering uses the
    * SOURCE's own count, so sampling changes n, not the arithmetic. */
  private def pcaTopComponent(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    // r21, guide §2.5: spread the sub-split scan before the d-fold
    // posexplode — the centering/outer-product decimal work otherwise
    // runs single-task (twice: the g branch and the yArr branch); all
    // downstream sums are exact decimal / fixed-point
    // (order-independent), so the result is bit-identical
    val x = Tables.spread(emb, "vec_id")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j0", "x0")))
      .select(col("vec_id"), (col("j0") + 1).as("j"),
        round(col("x0").cast("double"), 6).cast("decimal(18,6)").as("x"))
    val g = x.groupBy("j").agg(
      sum(col("x")).cast("decimal(24,6)").as("sx"),
      count(lit(1)).cast("decimal(6,0)").as("n"))
    val nD = emb.count().toDouble
    val yArr = x.join(broadcast(g), "j")
      .select(col("vec_id"), col("j"),
        (col("x") * col("n") - col("sx")).cast("decimal(18,6)").as("y"))
      .groupBy("vec_id")
      .agg(expr("transform(sort_array(collect_list(struct(j, y))), s -> s.y)")
        .as("ya"))
    // block-wise outer product (Similarity.scaledCovarianceBlocked —
    // the d-cliff knob; blockDim = d = 64 here is single-pass, the
    // identical r13 plan, while d ≥ 1024 callers bound per-task agg
    // state with blockDim = 65536/d; blocked ≡ unblocked spec-pinned)
    val cov = Similarity.scaledCovarianceBlocked(yArr, d = 64, blockDim = 64)
    // POWER ITERATION ON THE DRIVER (r20 optimization): the scaled
    // covariance is d² = 4096 rows at ANY corpus size — a
    // bounded-by-contract collect (the coreset/NSW metadata-read
    // class), and the exact shape MLlib's RowMatrix PCA uses
    // (computeGramianMatrix collects the d×d Gramian to the driver
    // and runs the eigen step locally). The six DataFrame mat-vec
    // steps each paid 2 localCheckpoint materializations + a
    // broadcast round-trip (~18 driver-scheduled jobs whose task
    // time was ~0.1 s packed against a 2.8 s floor — pure job/barrier
    // latency); the same arithmetic on the collected matrix is
    // microseconds. Bit-identical by construction: BigDecimal
    // multiply/add is the exact decimal algebra Spark's Decimal ops
    // perform, setScale(0, HALF_UP) IS Spark's round(expr, 0),
    // doubleValue IS Decimal.toDouble (round-half-even), and the
    // double round(x, 6) below reproduces Spark's Round-on-double
    // (BigDecimal.valueOf → setScale HALF_UP → toDouble). The
    // decimal(15,0) cast's ANSI overflow refusal is kept as an
    // explicit require — same loud failure, same envelope.
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    val mArr = Array.fill(64, 64)(JBD.ZERO)
    cov.select(col("j"), col("k"), col("mjk")).collect().foreach { r =>
      mArr(r.getInt(0) - 1)(r.getInt(1) - 1) = r.getDecimal(2)
    }
    def round6(x: Double): Double =
      // Spark's Round passes non-finite doubles through (all-zero
      // covariance ⇒ nrm = 0 ⇒ NaN loadings on the old DataFrame
      // path — reproduce that, don't throw; r20 ADVICE)
      if (x.isNaN || x.isInfinite) x
      else JBD.valueOf(x).setScale(6, RM.HALF_UP).doubleValue
    var v = Array.fill(64)(new JBD("0.125"))
    var nrm = 0.0
    for (_ <- 1 to 6) {
      val w = Array.tabulate(64) { j =>
        val acc = (0 until 64).foldLeft(JBD.ZERO)((a, k) =>
          a.add(mArr(j)(k).multiply(v(k))))
        val wj = acc.setScale(0, RM.HALF_UP)
        require(wj.precision <= 15,
          s"q_embed_pca: power-step output $wj overflows decimal(15,0) — " +
            "the exact-decimal envelope (use q_embed_pca_sampled past n ≈ 10⁵)")
        wj
      }
      nrm = math.sqrt(
        w.foldLeft(JBD.ZERO)((a, wj) => a.add(wj.multiply(wj))).doubleValue)
      v = w.map(wj => JBD.valueOf(round6(wj.doubleValue / nrm)).setScale(6))
    }
    val eig = round6(nrm / (nD * nD * nD))
    import s.implicits._
    v.zipWithIndex.toSeq
      .map { case (vj, j) => (j + 1, vj.doubleValue, eig) }
      .toDF("dim", "loading", "eigenvalue")
      .orderBy("dim")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- text analysis ----------------------------------------------------
    "q_text_readability" -> ((s, d) => {
      // Flesch-Kincaid-style READABILITY grade per source — the
      // classic pre-LLM quality heuristic still used as a pipeline
      // filter signal (too-low grade = fragment soup, too-high =
      // OCR/legal sludge). Syllables are proxied by vowel-group runs
      // ([aeiouy]+, the standard cheap estimator) and sentences by
      // terminal-punctuation runs — all three per-doc counts are
      // integer-exact regexp/array counts, so the only floats are the
      // grade's two divisions + linear combination, one fixed
      // parenthesization, round(4) per doc, then the round-then-
      // decimal-sum mean per source. One scan, one tiny hash agg —
      // trivially partitionable at any corpus size.
      val m = t(s, d, "documents").select(col("source"),
        size(tokens(col("text"))).cast("long").as("w"),
        greatest(expr("regexp_count(text, '[.!?]+')"), lit(1)).cast("long").as("sn"),
        greatest(expr("regexp_count(lower(text), '[aeiouy]+')"), lit(1)).cast("long").as("sy"))
      m.select(col("source"), col("w"),
          round(lit(0.39) * col("w") / col("sn") +
            lit(11.8) * col("sy") / col("w") - lit(15.59), 4).as("grade"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("w").as("n_words"),
          round(sum(col("grade").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 4).as("mean_grade"),
          min("grade").as("min_grade"),
          max("grade").as("max_grade"))
        .orderBy("source")
    }),
    "q_text_stats" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("tok_cnt"),
          length(col("text")).as("nchars"),
          round(punctRatio(col("text")), 4).as("punct_ratio"),
          round(stopwordRatio(col("text")), 4).as("stop_ratio"))
        .orderBy("doc_id")
    }),
    "q_text_langid" -> ((s, d) => {
      t(s, d, "documents")
        .select(langId(col("text")).as("lang_guess"))
        .groupBy("lang_guess").agg(count(lit(1)).as("cnt"))
        .orderBy("lang_guess")
    }),
    "q_text_langid_acc" -> ((s, d) => {
      // language-ID ACCURACY readout (the measurement entry for the
      // langid heuristic, like q_dedup_minhash_acc for MinHash and
      // q_embed_recall for ANN): confusion counts of predicted vs the
      // fixture's ground-truth lang, plus per-truth-label precision
      // material. One scan, one hash agg keyed (lang, guess).
      t(s, d, "documents")
        .select(col("lang"), langId(col("text")).as("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_guess")
    }),
    "q_text_quality" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), qualityScore(col("text")).as("score"))
        .orderBy("doc_id")
    }),
    "q_text_c4_filters" -> ((s, d) => {
      // the C4 heuristic filter set (Raffel et al. 2020 §2.2) as a
      // per-source census: how many docs each rule would drop and
      // what survives — curly brace (code marker), "lorem ipsum"
      // (placeholder boilerplate), fewer than 3 terminal-punctuation
      // sentences, fewer than 5 words. Rules are INDEPENDENT flags so
      // the census decomposes drop rate by cause (the filter-tuning
      // readout); the kept-set fingerprint is the overflow-safe
      // order-free bit_xor (the q_text_pii pattern). One scan, one
      // hash agg — trivially parallel at any SF.
      val keep = !col("r_brace") && !col("r_lorem") &&
        !col("r_sent") && !col("r_words")
      t(s, d, "documents")
        .select(col("source"), col("text"),
          col("text").contains("{").as("r_brace"),
          lower(col("text")).contains("lorem ipsum").as("r_lorem"),
          (size(filter(split(col("text"), "[.!?]"),
            x => length(trim(x)) > 0)) < 3).as("r_sent"),
          (size(tokens(col("text"))) < 5).as("r_words"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("r_brace"), 1L).otherwise(0L)).as("n_brace"),
          sum(when(col("r_lorem"), 1L).otherwise(0L)).as("n_lorem"),
          sum(when(col("r_sent"), 1L).otherwise(0L)).as("n_short_sent"),
          sum(when(col("r_words"), 1L).otherwise(0L)).as("n_few_words"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          bit_xor(when(keep,
            conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long"))
            .otherwise(lit(0L))).as("kept_fp"))
        .orderBy("source")
    }),
    "q_text_fingerprint" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    "q_dedup_url" -> ((s, d) => {
      // URL canonicalization dedup — the RefinedWeb/CommonCrawl
      // front-door dedup stage (crawls reach the same page via scheme/
      // case/www/tracking-param/fragment variants long before content
      // dedup runs). URLs are deterministically injected (the
      // q_text_pii pattern — the fixture has no URL column; the
      // OPERATOR is real), then canonicalized by a Java∩RE2-dialect
      // regex chain: lowercase → fragment strip → utm-param strip →
      // scheme+www strip → trailing-slash strip (each pattern anchored
      // so it matches at most once — Spark replaces all, DuckDB
      // replaces first; anchoring makes the dialects agree). One scan
      // + one hash agg on the canonical key; output is the
      // clone-family census.
      val style = col("doc_id") % 4
      val page = (col("doc_id") % 50).cast("string")
      val url = when(style === 0, concat(lit("https://www.example.com/p/"), page))
        .when(style === 1, concat(lit("HTTPS://WWW.EXAMPLE.COM/p/"), page, lit("/")))
        .when(style === 2, concat(lit("https://example.com/p/"), page,
          lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(concat(lit("http://www.example.com/p/"), page, lit("#section")))
      val canon = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        lower(url), "#.*$", ""), "\\?utm[^#]*$", ""),
        "^https?://(www\\.)?", ""), "/$", "")
      t(s, d, "documents")
        .select(col("doc_id"), url.as("url"), canon.as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_variants"),
          min(col("doc_id")).as("keeper"))
        .orderBy("canon")
    }),
    "q_text_bm25" -> ((s, d) => {
      // Okapi BM25 (Robertson & Zaragoza 2009; k1=1.2, b=0.75) — the
      // retrieval scoring function next to the classic tf-idf entry:
      // idf = ln((N−df+0.5)/(df+0.5)+1) (the non-negative variant),
      // tf saturation with document-length normalization dl/avgdl.
      // Every input is an exact integer (tf, df, dl, N, Σdl); idf is
      // rounded right after its ln; the score is ONE fixed
      // parenthesization of IEEE double ops, identical in the oracle
      // — the tfidf determinism recipe extended to the length-norm
      // term (dl/avgdl computed as dl·N/Σdl, no pre-divided average).
      // Two hash aggs + a broadcast totals scalar; top-3 per doc via
      // the same window as tfidf.
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .localCheckpoint(true) // feeds tf, df, AND dl
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val df_ = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val tots = dl.agg(count(lit(1)).cast("double").as("n"),
        sum("dl").cast("double").as("tt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score0").desc, col("term"))
      tf.join(df_, "term").join(dl, "doc_id").crossJoin(broadcast(tots))
        .withColumn("idf",
          round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
        .withColumn("score0", round(col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") * col("n") / col("tt"))), 4))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("score0").as("score"), col("rk"))
        .orderBy("doc_id", "rk")
    }),
    "q_hybrid_retrieval" -> ((s, d) => {
      // HYBRID (sparse ⊕ dense) retrieval — the RAG serving front
      // door: rank the corpus against query document 0 by BM25 term
      // overlap (sparse leg) and by embedding cosine (dense leg),
      // fuse with reciprocal-rank fusion (k = 60; Cormack et al.
      // 2009 — rank-based, so the two legs' incommensurable score
      // scales never mix). The legs disagree by construction
      // (lexical overlap vs vector geometry) — that disagreement is
      // the reason production stacks fuse them. Exactness: the
      // sparse score decimal-sums term-local round(4) BM25
      // contributions (q_text_bm25's recipe — order-independent);
      // RRF is coalesce(1/(60+rs), 0) + coalesce(1/(60+rd), 0), one
      // fixed parenthesization of small-integer-derived doubles
      // (oracle forces ::DOUBLE — DuckDB's bare 1.0 is DECIMAL).
      // Scale shape: each leg is TakeOrderedAndProject top-20 (never
      // a global sort); the only single-partition window ranks the
      // 20-row leg results (bounded by k, not corpus); the fusion
      // join touches ≤ 40 rows.
      graft.functions.expressions.GraftFunctions.register(s)
      // NOT spread (r21 negative result, same-window A/B 1.23 →
      // 1.69 s): the leg pipeline is stage-latency-bound — widening
      // the frozen single partition to 32 multiplied task overhead
      // across the four consumers' stages for tokenize work one task
      // covers at this corpus size
      val docs = t(s, d, "documents")
      val tok = docs.select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .localCheckpoint(true) // feeds tf, df, dl AND the query terms
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val df_ = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val tots = dl.agg(count(lit(1)).cast("double").as("n"),
        sum("dl").cast("double").as("tt"))
      val qTerms = tok.where(col("doc_id") === 0).select("term").distinct()
      val sparseTop = tf.join(qTerms, "term").where(col("doc_id") =!= 0)
        .join(df_, "term").join(dl, "doc_id").crossJoin(broadcast(tots))
        .withColumn("idf",
          round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
        .withColumn("c0", round(col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") * col("n") / col("tt"))), 4))
        .groupBy("doc_id")
        .agg(sum(col("c0").cast("decimal(18,4)")).cast("double").as("s_score"))
        .orderBy(col("s_score").desc, col("doc_id")).limit(20)
      val ws = org.apache.spark.sql.expressions.Window
        .orderBy(col("s_score").desc, col("doc_id"))
      val sparse = sparseTop.withColumn("rs", row_number().over(ws))
        .select(col("doc_id"), col("rs"))
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val denseTop = e.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(expr("cosine_sim(v, qv)"), 4).as("d_score"))
        .orderBy(col("d_score").desc, col("doc_id")).limit(20)
      val wd = org.apache.spark.sql.expressions.Window
        .orderBy(col("d_score").desc, col("doc_id"))
      val dense = denseTop.withColumn("rd", row_number().over(wd))
        .select(col("doc_id"), col("rd"))
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rs"), lit(0)).as("sparse_rk"),
          coalesce(col("rd"), lit(0)).as("dense_rk"),
          round(coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),
    "q_hybrid_retrieval_indexed" -> ((s, d) => {
      // INDEX-BACKED hybrid retrieval (r18 verdict item 3): the same
      // sparse ⊕ dense RRF fusion as q_hybrid_retrieval with BOTH
      // legs re-founded on staged artifacts — results identical
      // (same oracle SQL), the per-query cost an index probe instead
      // of a corpus pass. Sparse leg: the postingsIndex probe reads
      // ONLY the query's terms' postings (pushed term IN (...)
      // filter; the query vocabulary is one document's distinct
      // terms — a metadata-scale driver collect) instead of
      // re-tokenizing and re-aggregating tf/df/dl per run. Dense
      // leg: hybridDenseTop20's bound-pruned EXACT probe over the
      // cid-partitioned cell index — cells a sound Cauchy–Schwarz
      // bound excludes are never read (FileIndex partition pruning),
      // and the margin argument makes the output bit-identical to
      // the sibling's brute force. Bench reps time the probes; the
      // indexes build once per (session, corpus) — the
      // build-once/probe-many split a production retrieval stack
      // maintains.
      graft.functions.expressions.GraftFunctions.register(s)
      val post = postingsIndex(s, d)
      val qTerms = post.where(col("doc_id") === 0)
        .select("term").distinct().collect().map(_.getString(0)).toSeq
      val sparseTop = post
        .where(col("term").isin(qTerms: _*) && col("doc_id") =!= 0)
        .withColumn("idf", round(
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
        .withColumn("c0", round(col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") * col("n_docs") / col("total_len"))), 4))
        .groupBy("doc_id")
        .agg(sum(col("c0").cast("decimal(18,4)")).cast("double").as("s_score"))
        .orderBy(col("s_score").desc, col("doc_id")).limit(20)
      val ws = org.apache.spark.sql.expressions.Window
        .orderBy(col("s_score").desc, col("doc_id"))
      val sparse = sparseTop.withColumn("rs", row_number().over(ws))
        .select(col("doc_id"), col("rs"))
      val denseTop = hybridDenseTop20(s, d)
      val wd = org.apache.spark.sql.expressions.Window
        .orderBy(col("d_score").desc, col("doc_id"))
      val dense = denseTop.withColumn("rd", row_number().over(wd))
        .select(col("doc_id"), col("rd"))
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rs"), lit(0)).as("sparse_rk"),
          coalesce(col("rd"), lit(0)).as("dense_rk"),
          round(coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),
    "q_hybrid_ndcg" -> ((s, d) => {
      // the ACCURACY readout for the hybrid family (r18 verdict item
      // 2 — one measurement per approximate family: q_embed_recall,
      // q_embed_binary_recall, the bands table): NDCG@10 + MRR@10 +
      // hit count for the sparse leg, the dense leg, and the RRF
      // fusion, side by side, against deterministic pseudo-qrels =
      // the exact cosine top-10. The bias is named, not hidden: the
      // dense leg IS the exact cosine ranking, so dense NDCG ≡ 1 by
      // construction and the readout prices how much lexical-only
      // ranking loses and how much of it rank fusion buys back under
      // a cosine-defined truth — fusion ≥ sparse is the claim this
      // measures; fusion ≤ dense is definitional. Exactness: gain
      // weights w(r) = round(1/log2(r+1), 8) (far from half-ulp
      // boundaries for r ≤ 10 in both engines), DCG/IDCG decimal-
      // summed from the rounded terms, ONE final double division
      // rounded to 6; MRR is a single exact division. Scale shape:
      // the legs are the sibling's TakeOrderedAndProject top-20s;
      // everything after operates on ≤ 40 rows.
      graft.functions.expressions.GraftFunctions.register(s)
      // NOT spread (r21 negative result: 1.17 → 1.92 s same-window —
      // see q_hybrid_retrieval)
      val docs = t(s, d, "documents")
      val tok = docs.select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .localCheckpoint(true)
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val df_ = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val tots = dl.agg(count(lit(1)).cast("double").as("n"),
        sum("dl").cast("double").as("tt"))
      val qTerms = tok.where(col("doc_id") === 0).select("term").distinct()
      val sparseTop = tf.join(qTerms, "term").where(col("doc_id") =!= 0)
        .join(df_, "term").join(dl, "doc_id").crossJoin(broadcast(tots))
        .withColumn("idf",
          round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
        .withColumn("c0", round(col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") * col("n") / col("tt"))), 4))
        .groupBy("doc_id")
        .agg(sum(col("c0").cast("decimal(18,4)")).cast("double").as("s_score"))
        .orderBy(col("s_score").desc, col("doc_id")).limit(20)
      val ws = org.apache.spark.sql.expressions.Window
        .orderBy(col("s_score").desc, col("doc_id"))
      val sparse = sparseTop.withColumn("rs", row_number().over(ws))
        .select(col("doc_id"), col("rs")).localCheckpoint(true)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val denseTop = e.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(expr("cosine_sim(v, qv)"), 4).as("d_score"))
        .orderBy(col("d_score").desc, col("doc_id")).limit(20)
      val wd = org.apache.spark.sql.expressions.Window
        .orderBy(col("d_score").desc, col("doc_id"))
      val dense = denseTop.withColumn("rd", row_number().over(wd))
        .select(col("doc_id"), col("rd")).localCheckpoint(true)
      val wf = org.apache.spark.sql.expressions.Window
        .orderBy(col("rrf").desc, col("doc_id"))
      val fusion = sparse.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)), 6).as("rrf"))
        .withColumn("r", row_number().over(wf)).where(col("r") <= 10)
        .select(col("doc_id"), col("r"))
      val qrels = dense.where(col("rd") <= 10).select(col("doc_id"))
      val sys = sparse.where(col("rs") <= 10)
          .select(lit("sparse").as("system"), col("doc_id"), col("rs").as("r"))
        .unionByName(dense.where(col("rd") <= 10)
          .select(lit("dense").as("system"), col("doc_id"), col("rd").as("r")))
        .unionByName(fusion
          .select(lit("fusion").as("system"), col("doc_id"), col("r")))
      val rels = sys
        .join(qrels.withColumn("rel", lit(1)), Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0)))
        .withColumn("w", round(lit(1.0) / log2(col("r") + 1), 8))
      val idcg = dense.where(col("rd") <= 10)
        .agg(sum(round(lit(1.0) / log2(col("rd") + 1), 8)
          .cast("decimal(18,8)")).as("idcg"))
      rels.groupBy("system")
        .agg(sum(col("rel")).cast("long").as("hits"),
          sum(when(col("rel") === 1, col("w")).otherwise(lit(0.0))
            .cast("decimal(18,8)")).as("dcg"),
          min(when(col("rel") === 1, col("r"))).as("fr"))
        .crossJoin(broadcast(idcg))
        .select(col("system"), col("hits"),
          round(coalesce(lit(1.0) / col("fr"), lit(0.0)), 6).as("mrr"),
          round(col("dcg").cast("double") / col("idcg").cast("double"), 6)
            .as("ndcg"))
        .orderBy("system")
    }),
    "q_text_tfidf" -> ((s, d) => {
      // classic tf-idf: top-3 terms per doc, idf = ln(N/df); integer
      // counts + one ln keep exact oracle parity
      val docs = t(s, d, "documents")
      val n = docs.count()
      val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df_ = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score0").desc, col("term"))
      tf.join(df_, "term")
        .withColumn("score0", round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("score0").as("score"), col("rk"))
        .orderBy("doc_id", "rk")
    }),
    "q_text_tokens_bpe" -> ((s, d) => {
      // whitespace vs BPE-ish subword-regex token counts
      val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
      t(s, d, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("bpe_tokens"))
        .withColumn("ratio", round(col("bpe_tokens").cast("double") /
          greatest(col("ws_tokens"), lit(1)).cast("double"), 4))
        .orderBy("doc_id")
    }),
    "q_multimodal_dedup" -> ((s, d) => {
      // content-hash dedup over BINARY payloads — the image/video
      // dedup pass of a multimodal pipeline hashes bytes, never
      // decodes. Keeper = min doc_id per digest; clusters of 2+ report
      // the bytes a dedup pass reclaims. Same hash-groupBy shape as
      // q_dedup_exact, but only the 16-byte digest ever shuffles — the
      // payload itself stays in the scan stage.
      val b = col("text").cast("binary")
      t(s, d, "documents")
        .select(col("doc_id"), md5(b).as("digest"), length(b).as("nbytes"))
        .groupBy("digest")
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"),
             max("nbytes").as("nbytes"))
        .where(col("n_copies") >= 2)
        .select(col("digest"), col("n_copies"), col("keeper"),
          ((col("n_copies") - 1) * col("nbytes")).as("bytes_reclaimed"))
        .orderBy("keeper")
    }),
    "q_multimodal_hist" -> ((s, d) => {
      // the INTEGER byte histogram underlying Multimodal's stub
      // feature extractor (bin = byte div 32, 8 bins), oracled exactly
      // — the float-normalised Dataset path divides in Float32 which
      // no SQL engine mirrors, so the gate checks the counts and
      // MultimodalSpec ties extractFeatures to them (counts/nbytes)
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), "")))
        .toDF("doc_id", "i", "c")
        // split("", "") yields [""] — drop the artifact so an
        // empty-text doc is ABSENT (matching the oracle's range() over
        // zero characters) instead of a phantom b0=1 row
        .where(col("c") =!= "")
        .select(col("doc_id"), floor(ascii(col("c")) / 32).cast("int").as("bin"))
        .groupBy("doc_id")
        .agg(sum(when(col("bin") === 0, 1).otherwise(0)).as("b0"),
          (1 until 8).map(k =>
            sum(when(col("bin") === k, 1).otherwise(0)).as(s"b$k")): _*)
        .orderBy("doc_id")
    }),
    "q_multimodal_phash" -> ((s, d) =>
      phashPairs(s, d).orderBy("doc_a", "doc_b")),
    "q_multimodal_agree" -> ((s, d) => {
      // CROSS-MODAL dedup agreement (r13 VERDICT item 7): the
      // standard multimodal-corpus audit — of the pairs flagged by
      // the image hash (blockhash hamming ≤ 3) and the pairs flagged
      // by the text shingles (MinHash estimate ≥ 0.25), how many
      // agree? One FULL OUTER join of the two memoized candidate
      // sets (both already staged for their own gate entries — this
      // readout costs one join, the point of persisted candidate
      // artifacts), then a single conditional agg; agreement as
      // exact integer ppm of the union (guarded for the empty-union
      // degenerate case identically in both engines).
      val img = phashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(true).as("im"))
      val txt = Dedup.minhashPairs(t(s, d, "documents"), k = 16, bands = 4,
          minEst = 0.25, sigOpt = Some(docSignatures(s, d)),
          candOpt = Some(docCandidates(s, d)))
        .select(col("doc_a"), col("doc_b"), lit(true).as("tx"))
      img.join(txt, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          // coalesce: sum over ZERO rows is NULL in Spark while the
          // oracle's coalesce(sum(...), 0) yields 0 — all three counts
          // must match the oracle in the empty-union degenerate case,
          // not just agree_ppm (r14 ADVICE)
          coalesce(sum(when(col("im").isNotNull, 1L).otherwise(0L)), lit(0L))
            .as("n_image"),
          coalesce(sum(when(col("tx").isNotNull, 1L).otherwise(0L)), lit(0L))
            .as("n_text"),
          coalesce(sum(when(col("im").isNotNull && col("tx").isNotNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_both"),
          count(lit(1)).as("n_union"))
        .select(col("n_image"), col("n_text"), col("n_both"), col("n_union"),
          when(col("n_union") === 0, lit(0L))
            .otherwise(expr("n_both * 1000000 div n_union")).as("agree_ppm"))
    }),

    "q_text_chunks" -> ((s, d) => {
      // fixed-size token chunking (50-token windows, the pre-training
      // "split long documents" step): posexplode to token rows, chunk
      // id by integer division, per-chunk text re-assembled in pos
      // order and fingerprinted. Per-doc output: chunk count, token
      // count, first-chunk content hash.
      val tk = t(s, d, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .toDF("doc_id", "pos", "tok")
      tk.withColumn("chunk", floor(col("pos") / 50))
        .groupBy("doc_id", "chunk")
        .agg(count(lit(1)).as("n_toks"),
          substring(md5(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
              p => p.getField("tok")))), 1, 16).as("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_toks")).as("n_toks"),
          max(when(col("chunk") === 0, col("h"))).as("h0"))
        .orderBy("doc_id")
    }),
    "q_text_repetition" -> ((s, d) => {
      // Gopher-style repetition quality signals (Rae et al. '21 §A1.1):
      // fraction of the doc that is its single most-frequent token, and
      // fraction of duplicate word bigrams — the cheapest high-precision
      // junk filters for a web-scale corpus. Pure explode+hash-agg per
      // doc (no corpus-wide window), so it scales embarrassingly; the
      // flag thresholds mirror the published filter (0.2 / 0.3).
      val docs = t(s, d, "documents")
      val topTok = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_toks"), max(col("c")).as("top_c"))
      val big = Dedup.shingleRows(docs, 2)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_big"), countDistinct(col("g")).as("n_dist"))
      topTok.join(big, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_toks").cast("long").as("n_toks"),
          round(col("top_c") / col("n_toks"), 4).as("top_tok_frac"),
          round(coalesce((col("n_big") - col("n_dist")) / col("n_big"),
            lit(0.0)), 4).as("dup_bigram_frac"))
        .withColumn("flagged",
          (col("top_tok_frac") > 0.2 || col("dup_bigram_frac") > 0.3).cast("int"))
        .orderBy("doc_id")
    }),
    "q_text_boilerplate" -> ((s, d) =>
      // CCNet/RefinedWeb-style corpus-frequency boilerplate profile:
      // word-3-gram occurs in >= 3 distinct docs -> boilerplate; docs
      // report their boilerplate coverage (see Dedup.boilerplateProfile
      // for the one-agg-one-join scale shape).
      Dedup.boilerplateProfile(t(s, d, "documents"), shingleN = 3, minDocs = 3)),
    "q_text_pack" -> ((s, d) => {
      // sequence packing: fill 512-token bins per language in doc_id
      // order — bin = floor(running-token-count-before / 512), the
      // contiguous-fill variant that needs a prefix sum instead of a
      // sequential first-fit loop (bins can overflow by at most one
      // doc's tokens). The prefix sum is the TWO-PHASE scan, not one
      // global per-lang window (which serialises each language onto a
      // single task — the scale caveat prior rounds flagged): phase 1
      // cumsums WITHIN 1024-doc blocks (parallel across blocks), phase
      // 2 window-cumsums the per-block totals (|blocks| rows — tiny)
      // and broadcasts the offsets back. Identical result, and the
      // only ordered scan left runs on data ~1000x smaller than the
      // corpus.
      import org.apache.spark.sql.expressions.Window
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokenCount(col("text")).as("tc"))
        .withColumn("blk", floor(col("doc_id") / 1024))
      val wLocal = Window.partitionBy(col("lang"), col("blk")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBlk = Window.partitionBy(col("lang")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("lang"), col("blk"))
        .agg(sum(col("tc")).as("btot"))
        .withColumn("off", coalesce(sum(col("btot")).over(wBlk), lit(0)))
        .select(col("lang"), col("blk"), col("off"))
      base
        .withColumn("lcum", coalesce(sum(col("tc")).over(wLocal), lit(0)))
        .join(broadcast(offsets), Seq("lang", "blk"))
        .withColumn("cum", col("lcum") + col("off"))
        .withColumn("bin", floor(col("cum") / 512))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("tc")).cast("long").as("n_toks"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang", "bin")
    }),
    "q_multimodal_shard" -> ((s, d) => {
      // WebDataset-style shard packing: contiguous-by-id assignment of
      // binary payloads into ~64 KB shards per source — the training-IO
      // layout step (tar-shard writers consume exactly this
      // assignment). Same TWO-PHASE prefix scan as q_text_pack (local
      // cumsum within 1024-doc blocks, per-block offsets broadcast
      // back) but over payload BYTES: no per-source global window ever
      // sorts the corpus on one task. Shards overflow by at most one
      // payload (the pack contract).
      import org.apache.spark.sql.expressions.Window
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          length(col("text").cast("binary")).cast("long").as("nb"))
        .withColumn("blk", floor(col("doc_id") / 1024))
      val wLocal = Window.partitionBy(col("source"), col("blk")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBlk = Window.partitionBy(col("source")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("source"), col("blk"))
        .agg(sum(col("nb")).as("btot"))
        .withColumn("off", coalesce(sum(col("btot")).over(wBlk), lit(0)))
        .select(col("source"), col("blk"), col("off"))
      base
        .withColumn("lcum", coalesce(sum(col("nb")).over(wLocal), lit(0)))
        .join(broadcast(offsets), Seq("source", "blk"))
        .withColumn("shard", floor((col("lcum") + col("off")) / 65536))
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("nb")).cast("long").as("bytes"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("source", "shard")
    }),
    "q_dedup_pipeline" -> ((s, d) => {
      // end-to-end dedup: drop exact-dup losers, then near-dup (MinHash
      // est >= 0.5) right-hand docs; emit corpus accounting
      val docs = t(s, d, "documents")
      val exactLosers = docs
        .withColumn("keeper", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
        .where(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"))
      val nearLosers = Dedup.minhashPairs(docs, minEst = 0.5,
          sigOpt = Some(docSignatures(s, d)), candOpt = Some(docCandidates(s, d)))
        .select(col("doc_b").as("doc_id")).distinct()
        .join(exactLosers, Seq("doc_id"), "left_anti")
      val total = docs.select(count(lit(1)).as("n_total"))
      total.crossJoin(exactLosers.agg(count(lit(1)).as("n_exact_dropped")))
        .crossJoin(nearLosers.agg(count(lit(1)).as("n_near_dropped")))
        .select(col("n_total"), col("n_exact_dropped"), col("n_near_dropped"),
          (col("n_total") - col("n_exact_dropped") - col("n_near_dropped")).as("n_kept"))
    }),
    // -- dedup ------------------------------------------------------------
    "q_dedup_incremental" -> ((s, d) => {
      // incremental-ingest dedup: the hash-designated "arriving batch"
      // (doc_id % 5 == 0) band-joins against the existing corpus's
      // signature table — batch×corpus candidates only, never
      // corpus×corpus. Both sides slice the ONE memoized signature
      // table, exactly as a production pipeline reuses its persisted
      // signatures across arrivals.
      val sig = docSignatures(s, d)
      // the persisted corpus band index is the second corpus artifact
      // of the arrival pattern (next to the signatures): arriving
      // batches probe it instead of re-paying the corpus band explode +
      // bucket-count agg + salt join per ingest
      val idx = corpusBandIdx(s, d)
      Dedup.minhashPairsBetween(
        sig.where(col("doc_id") % 5 === 0),
        sig.where(col("doc_id") % 5 =!= 0),
        prePinned = true, // slices of the already-checkpointed memo
        corpusIndexOpt = Some(idx))
        .orderBy("new_id", "corpus_id")
    }),
    "q_stream_dedup_corpus" -> ((s, d) => {
      // STREAMING incremental dedup — the production arrival loop run
      // as a stream: the corpus's two persisted artifacts (signature
      // table + band index, shared with q_dedup_incremental) stay
      // static; arriving documents land as a file stream and each
      // micro-batch computes its OWN MinHash signatures and
      // band-probes the index. foreachBatch, not a streaming plan:
      // shingling needs a window (unsupported on streaming frames),
      // and per-batch batch-machinery IS the production shape for
      // index maintenance. maxFilesPerTrigger=1 forces the two staged
      // chunks through as two real micro-batches; candidates are
      // batch×corpus only, so arrival order cannot change the answer
      // and the batch q_dedup_incremental oracle applies verbatim.
      val sig = docSignatures(s, d)
      val corpusSig = sig.where(col("doc_id") % 5 =!= 0)
      val idx = corpusBandIdx(s, d)
      val arriving = t(s, d, "documents").where(col("doc_id") % 5 === 0)
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-dedup-corpus-in")
      val outDir = java.nio.file.Files.createTempDirectory("graft-q-dedup-corpus-out")
      try {
        stageDocsChunk(arriving.where(col("doc_id") % 10 === 0), streamDir, "a")
        stageDocsChunk(arriving.where(col("doc_id") % 10 =!= 0), streamDir, "b")
        val stream = s.readStream.schema(t(s, d, "documents").schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
        val out = outDir.resolve("pairs").toString
        val perBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
          (batch, _) => {
            val bSig = Dedup.minhashSignatures(batch).localCheckpoint(true)
            Dedup.minhashPairsBetween(bSig, corpusSig,
                prePinned = true, corpusIndexOpt = Some(idx))
              .write.mode("append").parquet(out)
          }
        val q = stream.writeStream.foreachBatch(perBatch).start()
        try q.processAllAvailable() finally q.stop()
        // detach from the temp dir (eager blocks) so cleanup can run
        s.read.parquet(out).orderBy("new_id", "corpus_id").localCheckpoint(true)
      } finally {
        deleteRecursively(streamDir); deleteRecursively(outDir)
      }
    }),
    "q_stream_psi" -> ((s, d) => {
      // STREAMING drift monitor — q_events_psi run the way production
      // monitoring runs it: the reference window's bucket counts are
      // a STATIC table; monitoring-window events ARRIVE as a file
      // stream and every micro-batch appends its (type, bucket)
      // counts through foreachBatch; PSI evaluates over the
      // accumulated counts. Bucket counts are additive, so the
      // monitor's final reading equals the batch computation under
      // ANY batching/arrival order — q_events_psi's oracle applies
      // verbatim (the q_stream_dedup_corpus equality-with-batch
      // pattern, for drift).
      val ev = Tables.events(s, d).where(col("value").isNotNull)
      val minDay = broadcast(
        ev.select(col("ts").cast("date").as("day")).agg(min("day").as("d0")))
      def bucketed(df: DataFrame) = df
        .select(col("event_type"), col("ts").cast("date").as("day"),
          greatest(least(
            expr("CAST(round(value, 2) AS DECIMAL(12,2)) * 100 div 2500"),
            lit(11L)), lit(0L)).as("b"))
      val evb = bucketed(ev).crossJoin(minDay)
        .select(col("event_type"), col("b"),
          (datediff(col("day"), col("d0")) < 8).as("isRef"))
        .localCheckpoint(true) // ref counts + arriving split + spine
      val ref = evb.where(col("isRef"))
        .groupBy("event_type", "b").agg(count(lit(1)).as("na"))
      val outDir = java.nio.file.Files.createTempDirectory("graft-q-psi-out")
      val streamDir = java.nio.file.Files.createTempDirectory("graft-q-psi-in")
      val monitored = try {
        val arriving = ev.crossJoin(minDay)
          .where(datediff(col("ts").cast("date"), col("d0")) >= 8)
          .drop("d0")
        stageDocsChunk(arriving.where(col("event_id") % 2 === 0), streamDir, "a")
        stageDocsChunk(arriving.where(col("event_id") % 2 =!= 0), streamDir, "b")
        val stream = s.readStream.schema(Tables.events(s, d).schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
        val cnts = outDir.resolve("counts").toString
        val perBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
          (batch, _) => bucketed(batch.where(col("value").isNotNull))
            .groupBy("event_type", "b").agg(count(lit(1)).as("cnt"))
            .write.mode("append").parquet(cnts)
        val q = stream.writeStream.foreachBatch(perBatch).start()
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(cnts).groupBy("event_type", "b")
          .agg(sum(col("cnt")).as("nb")).localCheckpoint(true)
      } finally deleteRecursively(streamDir)
      try {
        val spine = evb.select("event_type").distinct()
          .select(col("event_type"), explode(sequence(lit(0L), lit(11L))).as("b"))
        val full = spine
          .join(ref, Seq("event_type", "b"), "left_outer")
          .join(monitored, Seq("event_type", "b"), "left_outer")
          .select(col("event_type"), col("b"),
            coalesce(col("na"), lit(0L)).as("na"),
            coalesce(col("nb"), lit(0L)).as("nb"))
        val tot = full.groupBy("event_type")
          .agg((sum(col("na")) + 12).as("na1"), (sum(col("nb")) + 12).as("nb1"))
        full.join(tot, "event_type")
          .select(col("event_type"), col("na1"), col("nb1"),
            round((((col("na") + 1).cast("double") / col("na1")) -
                ((col("nb") + 1).cast("double") / col("nb1"))) *
              log(((col("na") + 1) * col("nb1")).cast("double") /
                ((col("nb") + 1) * col("na1")).cast("double")), 8)
              .cast("decimal(38,18)").as("term"))
          .groupBy("event_type")
          .agg((max(col("na1")) - 12).cast("long").as("n_ref"),
            (max(col("nb1")) - 12).cast("long").as("n_mon"),
            round(sum(col("term")).cast("double"), 6).as("psi"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally deleteRecursively(outDir)
    }),
    "q_stream_ivf_upsert" -> ((s, d) => {
      // STREAMING ANN index maintenance (r13 VERDICT item 6): the
      // q_stream_dedup_corpus arrival loop applied to the vector
      // store. The base IVF index is the cid-partitioned catalog
      // table; arriving vectors land as a file stream and each
      // micro-batch ASSIGNS its rows to the existing centroids
      // (row-local — no recluster, no rebuild) and APPENDS them into
      // the same partitioned layout, so a probe sees them the next
      // micro-batch. Assignment independence per row ⇒ the maintained
      // index is content-identical to a batch rebuild under ANY
      // arrival order/batching (Wave29 spec swaps the chunk order and
      // the probe answers match row-for-row), so the batch
      // q_embed_ivf_append oracle applies verbatim. foreachBatch for
      // the same reason as the dedup loop: per-batch batch machinery
      // IS the production index-maintenance shape.
      graft.functions.expressions.GraftFunctions.register(s)
      val cents = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val isArrival = (col("vec_id") % 10 === 0) && col("vec_id") > 8
      val idx = shared.table(s, d, "ivf_index_upsert",
          Tables.fingerprint(s, d, "embeddings")) { (name, dir) =>
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        Similarity.assignCells(e.where(!isArrival), cents)
          .write.format("parquet").mode("overwrite").partitionBy("cid")
          .option("path", dir.resolve("index").toString)
          .saveAsTable(name)
        val streamDir = java.nio.file.Files.createTempDirectory("graft-q-ivf-upsert-in")
        try {
          val arrivals = t(s, d, "embeddings").where(isArrival)
          stageDocsChunk(arrivals.where(col("vec_id") % 20 === 0), streamDir, "a")
          stageDocsChunk(arrivals.where(col("vec_id") % 20 =!= 0), streamDir, "b")
          val stream = s.readStream.schema(t(s, d, "embeddings").schema)
            .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
          val perBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
            (batch, _) => {
              Similarity.assignCells(
                  batch.select(col("vec_id"), toDouble(col("embedding")).as("v")),
                  cents)
                .write.mode("append").insertInto(name)
            }
          val q = stream.writeStream.foreachBatch(perBatch).start()
          try q.processAllAvailable() finally q.stop()
        } finally deleteRecursively(streamDir)
      }
      // probe = the ivf_indexed shape: 1-row cell lookup, then
      // literal-cid partition-pruned in-cell top-10
      val qRow = idx.where(col("vec_id") === 0)
        .select(col("cid"), col("v")).head()
      val qv = idx.sparkSession.createDataFrame(
        java.util.List.of(qRow), qRow.schema).select(col("v").as("qv"))
      Similarity.bruteForceTopK(
        idx.where(col("cid") === qRow.getLong(0) && col("vec_id") =!= 0), qv, 10)
    }),
    "q_stream_postings_upsert" -> ((s, d) => {
      // STREAMING SPARSE-index maintenance (r19) — q_stream_ivf_upsert's
      // arrival loop applied to the POSTINGS index, completing the
      // index-maintenance family's sparse half (dense: ivf upsert /
      // append / delete / compact; sparse: this). Base postings built
      // from the non-arrival corpus; arriving documents land as a
      // file stream and each micro-batch tokenizes ONLY its own rows
      // and APPENDS (kind='p') posting rows + (kind='d') per-doc
      // stat rows into the same kind-partitioned layout (the 'd'
      // partition is the doc-values/norms file of a Lucene segment).
      // Per-doc rows are arrival-local, and every GLOBAL statistic
      // the probe needs is an ASSOCIATIVE aggregate over them — df =
      // count of a term's 'p' rows, n_docs / total_len = count / sum
      // over the tiny 'd' partition — so the maintained index is
      // content-identical to a batch rebuild under ANY arrival order
      // or batching, and the batch BM25 SQL oracles the probe
      // verbatim. Probe = query-term-pruned 'p' scan (pushed term IN
      // filter) + the 'd'-partition totals: no re-tokenization.
      graft.functions.expressions.GraftFunctions.register(s)
      val isArrival = col("doc_id") % 10 === 3
      val idx = shared.table(s, d, "postings_upsert",
          Tables.fingerprint(s, d, "documents")) { (name, dir) =>
        def postRows(docs: DataFrame): DataFrame = {
          val tok = docs.select(col("doc_id"),
              explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
            .localCheckpoint(true) // feeds tf AND dl
          val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
          tf.join(dl, "doc_id")
            .select(col("term"), col("doc_id"), col("tf"), col("dl"),
              lit("p").as("kind"))
            .unionByName(dl.select(lit(null).cast("string").as("term"),
              col("doc_id"), lit(null).cast("long").as("tf"), col("dl"),
              lit("d").as("kind")))
        }
        val docs = t(s, d, "documents")
        postRows(docs.where(!isArrival))
          .write.format("parquet").mode("overwrite").partitionBy("kind")
          .option("path", dir.resolve("postings").toString).saveAsTable(name)
        val streamDir =
          java.nio.file.Files.createTempDirectory("graft-q-postings-upsert-in")
        try {
          val arrivals = docs.where(isArrival)
          stageDocsChunk(arrivals.where(col("doc_id") % 20 === 3), streamDir, "a")
          stageDocsChunk(arrivals.where(col("doc_id") % 20 =!= 3), streamDir, "b")
          val stream = s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
          val perBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
            (batch, _) => postRows(batch.toDF())
              .write.mode("append").insertInto(name)
          val q = stream.writeStream.foreachBatch(perBatch).start()
          try q.processAllAvailable() finally q.stop()
        } finally deleteRecursively(streamDir)
      }
      val qTerms = idx.where(col("kind") === "p" && col("doc_id") === 0)
        .select("term").distinct().collect().map(_.getString(0)).toSeq
      val p = idx.where(col("kind") === "p" && col("term").isin(qTerms: _*))
        .localCheckpoint(true) // feeds df AND the scoring pass
      val totals = idx.where(col("kind") === "d")
        .agg(count(lit(1)).cast("double").as("n"),
          sum("dl").cast("double").as("tt"))
      val dfT = p.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("s_score").desc, col("doc_id"))
      p.where(col("doc_id") =!= 0)
        .join(dfT, "term").crossJoin(broadcast(totals))
        .withColumn("idf", round(
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
        .withColumn("c0", round(col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") * col("n") / col("tt"))), 4))
        .groupBy("doc_id")
        .agg(sum(col("c0").cast("decimal(18,4)")).cast("double").as("s_score"))
        .orderBy(col("s_score").desc, col("doc_id")).limit(20)
        .withColumn("rs", row_number().over(w))
        .select(col("doc_id"), col("s_score"), col("rs"))
        .orderBy("rs")
    }),
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents")).orderBy("h")),
    "q_dedup_bloom" -> ((s, d) => {
      // BLOOM-FILTER ingest pre-filter, IN-ENGINE and fully oracled:
      // the membership test a 100 TB ingest runs BEFORE the exact
      // anti-join (arrivals that miss the filter are definitely new —
      // only the maybe-duplicates pay the corpus lookup). Built from
      // deterministic arithmetic instead of an opaque sketch so the
      // DuckDB oracle reproduces it bit-for-bit: k = 3 probe
      // positions per key = three disjoint 6-hex-char (24-bit) slices
      // of the content digest, modulo m bits; m is the auto-knob
      // (Dedup.autoBloomBits: smallest power of two ≥ 16·n clamped to
      // [2¹⁴, 2²⁴] — a FIXED m saturates: 47 k keys into 2¹⁴ bits is
      // fill 0.9998 ≈ FPR 100%). The "filter" is the distinct corpus
      // position set (≤ m narrow rows — at real scale an executor-
      // local bitmap; here the same math as a distinct + equi-join,
      // which is exactly what makes it oracle-able). Readout: the FP
      // census — flagged arrivals vs true digest-duplicates, FPR in
      // exact integer ppm (k=3/16 bpk analytic ≈ 0.5%), with the
      // no-false-negative guarantee implied by n_flagged ≥ n_true_dup
      // and both sides' m on the row (no silent knobs).
      val withD = t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("dg"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 16 === 5).as("arr"))
        .localCheckpoint(true) // corpus bits + probe + dup check read it
      val corpus = withD.where(!col("arr"))
      val arrivals = withD.where(col("arr"))
      val n = corpus.count()
      val m = Dedup.autoBloomBits(n)
      def positions(df: DataFrame, perDoc: Boolean): DataFrame = {
        val raw = df.select(col("doc_id"),
          explode(array(Seq(1, 9, 17).map(off =>
            conv(substring(col("dg"), off, 6), 16, 10).cast("long") % m): _*))
            .as("pos"))
        // arrivals need per-doc distinct positions (the np === nh
        // membership test); the corpus side only needs the POSITION
        // set, so it deduplicates once on the narrow key instead of
        // shuffling (doc_id, pos) first (r16 review — the corpus is
        // the 15/16 majority on a headlined entry)
        if (perDoc) raw.distinct() else raw.select("pos").distinct()
      }
      val bits = positions(corpus, perDoc = false)
      val probe = positions(arrivals, perDoc = true)
        .join(bits.withColumn("hit", lit(1L)), Seq("pos"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("np"),
          sum(coalesce(col("hit"), lit(0L))).as("nh"))
        .select(col("doc_id"), (col("np") === col("nh")).as("flagged"))
      val dup = arrivals
        .join(corpus.select(col("dg")), Seq("dg"), "left_semi")
        .select(col("doc_id")).withColumn("isdup", lit(true))
      probe.join(dup, Seq("doc_id"), "left_outer")
        .agg(count(lit(1)).as("n_arrivals"),
          sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          sum(when(coalesce(col("isdup"), lit(false)), 1L).otherwise(0L))
            .as("n_true_dup"),
          sum(when(col("flagged") && !coalesce(col("isdup"), lit(false)), 1L)
            .otherwise(0L)).as("n_false_pos"))
        .select(lit(n).as("n_corpus"), lit(m).as("m_bits"),
          col("n_arrivals"), col("n_flagged"), col("n_true_dup"),
          col("n_false_pos"),
          expr("n_false_pos * 1000000 DIV greatest(1, n_arrivals - n_true_dup)")
            .as("fpr_ppm"))
    }),
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(t(s, d, "documents"), k = 16, bands = 4, minEst = 0.25,
          sigOpt = Some(docSignatures(s, d)), candOpt = Some(docCandidates(s, d)))
        .orderBy("doc_a", "doc_b")),
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashBuckets(t(s, d, "documents")).orderBy("simhash")),
    "q_dedup_simhash_near" -> ((s, d) =>
      // hamming-BALL near-dups (dist <= 3), not just exact simhash
      // collisions: 4-band LSH + popcount rescore; the oracle is the
      // all-pairs form, equivalent by the pigeonhole argument in
      // Dedup.simhashHammingPairs
      Dedup.simhashHammingPairs(t(s, d, "documents"), maxDist = 3,
          sigOpt = Some(memoTable(s, d, "simhash_wide")(
            Dedup.simhashWidePerDoc(t(s, d, "documents")))))
        .orderBy("doc_a", "doc_b")),
    "q_dedup_simhash_acc" -> ((s, d) => {
      // SimHash ACCURACY readout — closes the one-per-approximate-
      // family measurement pattern (q_dedup_minhash_acc /
      // q_dedup_semantic_acc / q_embed_recall / q_text_langid_acc):
      // every band-LSH candidate pair the index would ever consider
      // carries the signature's bit-agreement similarity ESTIMATE
      // (1 - dist/60, the random-hyperplane agreement fraction) next
      // to the TRUE token-set cosine |A∩B|/√(|A|·|B|) — the in-engine
      // measurement of what 60 bits buy. Signatures come from the
      // session memo shared with q_dedup_simhash_near; candidates are
      // the band join with every-37th-doc PROBES against the full
      // index (the sampled-audit shape — the unthresholded candidate
      // set is mega-bucket-quadratic on a clone-heavy corpus, and a
      // measurement needs an unbiased sample, not every pair; the
      // dedup path itself keeps probeEvery = 1). dist and the
      // intersection are
      // integer-exact; est is one IEEE division; cos is an integer
      // ratio under a correctly-rounded sqrt — all round(4),
      // hash-exact cross-engine.
      val docs = t(s, d, "documents")
      // the sampled band-candidate pair set is a staged parquet
      // artifact (r14 verdict item 7, the phashPairs precedent): the
      // index-side pair generation is computed once per corpus and
      // audit reps time the TRUTH join (token-set cosine vs the
      // signature estimate) — the measurement itself
      val pairs = stagedTable(s, d, "simhash_pairs_p37")(
        Dedup.simhashBandPairs(memoTable(s, d, "simhash_wide")(
          Dedup.simhashWidePerDoc(docs)), probeEvery = 37L))
      val ts = docs.select(col("doc_id"),
        array_distinct(tokens(col("text"))).as("ts"))
      pairs
        .join(ts.select(col("doc_id").as("doc_a"), col("ts").as("ta")), "doc_a")
        .join(ts.select(col("doc_id").as("doc_b"), col("ts").as("tb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
        .select(col("doc_a"), col("doc_b"), col("dist"),
          round(lit(1.0) - col("dist") / lit(60.0), 4).as("est"),
          round(col("inter").cast("double") /
            sqrt((size(col("ta")) * size(col("tb"))).cast("double")), 4).as("cos_true"))
        .orderBy("doc_a", "doc_b")
    }),
    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), shingleN = 3, minJac = 0.15,
          setsOpt = Some(memoTable(s, d, "ngram_sets_3")(
            Dedup.ngramShingleSets(t(s, d, "documents"), shingleN = 3))))
        .orderBy("doc_a", "doc_b")),
    "q_dedup_containment" -> ((s, d) =>
      // asymmetric containment |A∩B|/min(|A|,|B|): the near-superset
      // detector — reuses the SAME memoized shingle-set table and
      // blocked candidates as q_dedup_ngram, only the denominator
      // changes (containment >= jaccard always, so its threshold sits
      // higher). A doc embedded in a larger doc scores 1.0 here while
      // symmetric jaccard dilutes toward 0.
      Dedup.ngramContainmentPairs(t(s, d, "documents"), shingleN = 3, minCont = 0.3,
          setsOpt = Some(memoTable(s, d, "ngram_sets_3")(
            Dedup.ngramShingleSets(t(s, d, "documents"), shingleN = 3))))
        .orderBy("doc_a", "doc_b")),
    "q_dedup_substring" -> ((s, d) =>
      // exact repeated-SPAN dedup (the substring-level pass of
      // "Deduplicating Training Data Makes Language Models Better",
      // Lee et al. 2022 — distinct from the doc-level MinHash family):
      // hash every 20-token rolling window; a span occurring in 2+
      // docs is duplicated text a pipeline would cut from all but the
      // keeper. One window pass to form spans + one hash agg on the
      // span hash — candidate volume tracks TRUE duplication (shared
      // spans), never document pairs, so the shuffle is
      // output-bounded at 100 TB exactly like a suffix-array pass.
      // NOT spread (r21 negative result, quiet-window A/B): unlike the
      // cdc/bleu scans, the span pass is agg-shuffle-bound, not
      // per-row-CPU-bound — spreading the scan first measured 1.02 →
      // 1.22 s isolated (the added exchange + less effective map-side
      // partial agg outweigh the parallelized shingling)
      Dedup.shingleRows(t(s, d, "documents"), 20)
        .select(col("doc_id"), md5(col("g")).as("span"))
        .groupBy("span")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"), min(col("doc_id")).as("keeper"))
        .where(col("n_docs") >= 2)
        .orderBy("span")),
    "q_dedup_cdc" -> ((s, d) => {
      // CONTENT-DEFINED chunking dedup (LBFS, Muthitacharoen et al.
      // 2001 — the rsync/backup-store primitive): chunk boundaries
      // come from the CONTENT (position i opens a chunk iff the hash
      // of the 8-char window at i lands in a 1/64 target band), so a
      // one-character insertion shifts ONE chunk instead of every
      // downstream fixed-width window — the shift-resilient span
      // dedup q_dedup_substring's token windows can't give for byte
      // payloads. All-SQL, no explode of characters: the boundary
      // list is a filter over sequence(1, len−7) evaluated inside
      // codegen, chunks are a transform over it, then one hash agg on
      // the chunk digest — candidate volume tracks TRUE duplication
      // (shared chunks), output-bounded at 100 TB exactly like the
      // span pass. Avg chunk ≈ 64 chars (band '00'–'03' of the first
      // two md5 hex digits). The per-position md5 pass is the most
      // CPU-expensive per-row derivation in the inventory — spread
      // the sub-split scan first (r21, guide §2.5) or it runs single-
      // task at the test SFs.
      Tables.spread(t(s, d, "documents"), "doc_id")
        .withColumn("bs", expr(
          "filter(sequence(1, greatest(length(text) - 7, 1)), " +
            "i -> i = 1 OR substring(md5(substring(text, i, 8)), 1, 2) <= '03')"))
        .select(col("doc_id"), explode(expr(
          "transform(bs, (b, k) -> substring(text, b, " +
            "coalesce(try_element_at(bs, k + 2), length(text) + 1) - b))")).as("c"))
        .groupBy(md5(col("c")).as("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          max(length(col("c"))).cast("long").as("chunk_chars"),
          min(col("doc_id")).as("keeper"))
        .where(col("n_docs") >= 2)
        .orderBy("chunk_hash")
    }),
    "q_dedup_embed" -> ((s, d) =>
      embedLshPairs(s, d, minCos = 0.4).orderBy("i", "j")),
    "q_dedup_embed_auto" -> ((s, d) => {
      // the PRODUCTION path of the embedding near-dup operator (r15
      // verdict item 1): the LSH geometry is COMPUTED from the corpus
      // count (Similarity.autoPlanesPerBand — planes = bitLength(
      // (n−1) div 96) clamped to [8,16], expected bucket ≈ 96) instead
      // of taken as a constant. q_dedup_embed keeps the fixed 4×8
      // geometry because its candidate set IS that entry's oracle
      // semantics; this entry is the same operator with the knob
      // closed-loop — at every fixture SF the rule reproduces p = 8
      // (so the pair set matches q_dedup_embed exactly, spec-pinned),
      // and at sf10's 200 k vectors it picks the measured p = 12 that
      // turns the 453 M-candidate quadratic back to ~linear (45 M)
      // and completes. The chosen geometry rides on every row
      // (`planes` — no silent knobs), re-derived by the DuckDB oracle
      // from count(*) with the same integer formula. The count() is
      // one columnless parquet-footer scan — the corpus stat a
      // production deployment reads from table metadata.
      val n = t(s, d, "embeddings").count()
      val p = Similarity.autoPlanesPerBand(n)
      embedLshPairs(s, d, minCos = 0.4, planesPerBand = p)
        .withColumn("planes", lit(p))
        .orderBy("i", "j")
    }),
    "q_dedup_embed_cluster" -> ((s, d) => {
      // end-to-end embedding dedup: LSH-bucket candidates -> exact
      // cosine >= 0.4 pairs -> transitive closure (distributed
      // pointer-jumping CC) -> cluster accounting, cluster id = min
      // vec_id — the "pick one keeper per near-dup set" step a real
      // pipeline runs after pair generation.
      val pairs = embedLshPairs(s, d, minCos = 0.4)
        .select(col("i").as("src"), col("j").as("dst"))
      graft.operators.Traversals.contractedComponents(pairs)
        .groupBy("component")
        .agg(count(lit(1)).as("sz"), max(col("vertex")).as("max_vec"))
        .orderBy("component")
    }),
    "q_dedup_families" -> ((s, d) => {
      // near-dup FAMILY accounting over the MinHash candidate graph —
      // what q_dedup_cluster's census does NOT tell you: the BYTE
      // bill. est >= 0.5 pairs from the memoized signature/candidate
      // artifacts, transitive closure via the distributed
      // pointer-jumping CC, then per family the drop count (sz − 1 —
      // keeper = the min doc_id, which IS the component label) and
      // the CHARACTER MASS a dedup pass reclaims (Σ n_chars over the
      // non-keeper members — the storage/token savings estimate that
      // justifies running the pass at all; one member-keyed join
      // against the docs table, only (doc_id, n_chars) shuffles).
      val pairs = Dedup.minhashPairs(t(s, d, "documents"), minEst = 0.5,
          sigOpt = Some(docSignatures(s, d)), candOpt = Some(docCandidates(s, d)))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      graft.operators.Traversals.contractedComponents(pairs)
        .join(t(s, d, "documents").select(col("doc_id").as("vertex"),
          col("n_chars")), "vertex")
        .groupBy("component")
        .agg(count(lit(1)).as("family_sz"),
          (count(lit(1)) - lit(1L)).as("n_dropped"),
          sum(when(col("vertex") =!= col("component"), col("n_chars"))
            .otherwise(lit(0L))).cast("long").as("chars_dropped"),
          max(col("vertex")).as("max_doc"))
        .orderBy("component")
    }),
    "q_embed_hardneg" -> ((s, d) => {
      // HARD-NEGATIVE mining — the contrastive-training data op
      // (DPR/SimCSE/E5 all train on them): for each anchor, the most
      // similar vectors with a DIFFERENT label are exactly the
      // negatives that teach the boundary. Same IVF cell partition as
      // SemDeDup (centroids = vec_ids 1-8), so the quadratic is
      // cluster-scoped and k is the scale lever; candidates never
      // leave their cell, ranking is a per-anchor window over the
      // cell-bounded pair set, top-3 per anchor. round(4) cosine with
      // the neg-id tiebreak keeps the cut deterministic cross-engine.
      graft.functions.expressions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val asg = Similarity.assignCells(e, cents)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
        .localCheckpoint(true) // both sides of the cell pair join
      val pairs = asg
        .select(col("cid"), col("vec_id").as("anchor"), col("v").as("va"),
          col("label").as("la"))
        .join(asg.select(col("cid"), col("vec_id").as("neg"),
          col("v").as("vb"), col("label").as("lb")), "cid")
        .where(col("anchor") =!= col("neg") && col("la") =!= col("lb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("anchor")).orderBy(col("cos").desc, col("neg"))
      pairs
        .select(col("anchor"), col("neg"),
          round(expr("cosine_sim(va, vb)"), 4).as("cos"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .orderBy("anchor", "rk")
    }),
    "q_dedup_semantic" -> ((s, d) => {
      // SemDeDup (Abbas et al. '23): cluster partition (IVF cells,
      // centroids = vec_ids 1-8 like q_embed_ivf) + within-cluster
      // cosine >= 0.4 drop rule — the embedding-space dedup that
      // catches paraphrases exact/MinHash dedup cannot. Quadratic
      // work is cluster-bounded; k scales with corpus so cells stay
      // small (see Similarity.semDedup).
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      Similarity.semDedup(
        Similarity.assignCells(e, cents).localCheckpoint(true), tau = 0.4)
    }),
    "q_dedup_semantic_auto" -> ((s, d) => {
      // SemDeDup with the cell count COMPUTED from the corpus
      // (Similarity.autoCellCount: k = ceil(n/500) clamped to
      // [8, 4096]) — the production path for the OTHER fixed-knob
      // quadratic (r15 verdict item 2): fixed k = 8 makes per-cell
      // population n/8 and the within-cell pair volume O(n²),
      // reproducing the dedup_embed bend at 100× by design; auto-k
      // bounds expected cell population at 500 so pair volume stays
      // ~n·250. Centroids are vec_ids 1..k (the fixture convention);
      // the chosen k rides on every row and the oracle re-derives it
      // from count(*) with the same integer formula. At every fixture
      // SF (n ≤ 2000) the rule reproduces the gate's fixed k = 8
      // (spec-pinned); at sf1's 20 k it picks 40 and at sf10's 200 k
      // it picks 400 — the measured-scale rows in BASELINE.md.
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val k = Similarity.autoCellCount(n)
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, k))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      Similarity.semDedup(
          Similarity.assignCells(e, cents).localCheckpoint(true), tau = 0.4)
        .withColumn("cells", lit(k))
    }),
    "q_dedup_semantic_acc" -> ((s, d) => {
      // SemDeDup QUALITY readout (r12 VERDICT item 8): drop-rate vs
      // tau curve + label-precision of the drop rule against the
      // fixture's ground-truth labels — the in-engine measurement the
      // paper reports, like q_dedup_minhash_acc / q_embed_recall /
      // q_text_langid_acc for their families. One cluster-scoped pair
      // pass, conditional aggregation per tau.
      val emb = t(s, d, "embeddings")
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      Similarity.semDedupCurve(
        Similarity.assignCells(e, cents).localCheckpoint(true),
        emb.select(col("vec_id"), col("label")),
        taus = Seq(0.3, 0.4, 0.5, 0.6))
    }),
    "q_dedup_cluster" -> ((s, d) => {
      // near-dup CLUSTERS: transitive closure over MinHash pairs
      // (est >= 0.5) via the distributed CC operator — the step after
      // pair generation in a real dedup pipeline (pick one keeper per
      // cluster, not per pair). cluster id = min doc_id.
      val pairs = Dedup.minhashPairs(t(s, d, "documents"), k = 16, bands = 4, minEst = 0.5,
          sigOpt = Some(docSignatures(s, d)), candOpt = Some(docCandidates(s, d)))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      graft.operators.Traversals.contractedComponents(pairs)
        .groupBy("component")
        .agg(count(lit(1)).as("sz"), max(col("vertex")).as("max_doc"))
        .orderBy("component")
    }),
    "q_sample_leakage" -> ((s, d) => {
      // split-leakage audit (eval hygiene): documents with IDENTICAL
      // text landing in different q_sample_split splits are leakage —
      // the test set silently memorises the train set. Text-hash
      // groupBy (never a text×text join), per-hash split census, and a
      // leaked group is any hash spanning test/val AND train. Output:
      // per-split doc counts plus the leaked-pair count (train×eval
      // pairs within each leaking hash — the number a cleanup must
      // break).
      val sp = t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"),
          substring(md5(col("doc_id").cast("string")), 1, 2).as("hp"))
        .withColumn("split",
          when(col("hp") < "0d", "test").when(col("hp") < "1a", "val")
            .otherwise("train"))
      val perHash = sp.groupBy("h").agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") =!= "train", 1L).otherwise(0L)).as("n_eval"))
      perHash.agg(
          sum(col("n_train")).cast("long").as("n_train_docs"),
          sum(col("n_eval")).cast("long").as("n_eval_docs"),
          sum(when(col("n_train") > 0 && col("n_eval") > 0, 1L).otherwise(0L))
            .as("n_leaking_texts"),
          sum(col("n_train") * col("n_eval")).cast("long").as("n_leaked_pairs"))
    }),
    "q_text_dupe_stats" -> ((s, d) => {
      // per-source duplication census (the data-card statistic): doc
      // count, distinct-text count, dup ratio, and the largest clone
      // family per source — two hash aggs keyed by (source, text-hash)
      // then source; only 16-byte digests shuffle.
      val h = t(s, d, "documents")
        .groupBy(col("source"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"))
      h.groupBy("source")
        .agg(sum(col("n")).cast("long").as("n_docs"),
          count(lit(1)).as("n_distinct"),
          max(col("n")).cast("long").as("max_clones"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          col("max_clones"),
          round((col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs"), 4).as("dup_ratio"))
        .orderBy("source")
    }),
    "q_agg_cramers" -> ((s, d) => {
      // categorical association (chi² / Cramér) between lang and
      // source — the data-profiling readout that tells a pipeline
      // whether two partitioning dimensions are independent (safe to
      // stratify separately) or confounded. Repo float discipline:
      // each cell's chi² term has an EXACT integer numerator
      // (o·N − r·c)² over an exact integer denominator N·r·c; the
      // double division is IEEE-identical cross-engine, terms are
      // rounded then decimal-summed, and Cramér is reported SQUARED
      // (chi²/(N·min(k−1,l−1))) per the r²/t² no-sqrt convention.
      val base = t(s, d, "documents")
      val cell = base.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rt = base.groupBy("lang").agg(count(lit(1)).as("r"))
      val ct = base.groupBy("source").agg(count(lit(1)).as("c"))
      val tot = base.agg(count(lit(1)).as("n"),
        countDistinct(col("lang")).as("nl"),
        countDistinct(col("source")).as("ns"))
      // chi² sums over the FULL dimension grid — observed-zero cells
      // contribute r·c/N; the grid is dims × dims (≤100 rows here,
      // dimension-sized by nature at any SF: it's a broadcast cross of
      // two AGGREGATED dimension tables, never of facts)
      val grid = rt.crossJoin(broadcast(ct))
      grid.join(cell, Seq("lang", "source"), "left_outer")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("n"), col("nl"), col("ns"),
          round(((col("o") * col("n") - col("r") * col("c")) *
                 (col("o") * col("n") - col("r") * col("c"))).cast("double") /
            (col("n") * col("r") * col("c")).cast("double"), 6).as("term"))
        .groupBy("n", "nl", "ns")
        .agg(round(sum(col("term").cast("decimal(38,18)")).cast("double"), 4)
          .as("chi2"))
        .select(col("n").cast("long").as("n"), col("nl").cast("long").as("n_lang"),
          col("ns").cast("long").as("n_source"), col("chi2"),
          round(col("chi2") / (col("n") *
            least(col("nl") - 1, col("ns") - 1)).cast("double"), 6).as("v2"))
    }),
    "q_sample_systematic" -> ((s, d) => {
      // systematic (interval) sampling — the deterministic weighted
      // sampler survey methodology uses: within each source, docs
      // ordered by doc_id accumulate weight (n_chars); a doc is
      // selected iff its weight interval crosses a stride boundary
      // (stride = source total DIV 10 → ~10 picks/source, selection
      // probability ∝ weight). Content-independent, integer-exact,
      // reproducible under any partitioning — and the prefix sum is
      // per-source (partition-parallel windows), never a global sort.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("source")
      t(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .withColumn("total", sum(col("n_chars")).over(tw))
        .withColumn("stride", greatest(lit(1L), expr("total DIV 10")))
        .where(expr("cum DIV stride") > expr("(cum - n_chars) DIV stride"))
        .select(col("source"), col("doc_id"), col("cum").cast("long").as("cum"))
        .orderBy("source", "doc_id")
    }),
    "q_feature_hash" -> ((s, d) => {
      // hashing-trick features (Weinberger et al. 2009 — the
      // vocabulary-free featurizer): token → one of 16 md5-derived
      // buckets, per-doc sparse count vector as (doc_id, bucket, cnt)
      // rows. THE reason this scales where CountVectorizer doesn't:
      // no global dictionary build, no broadcast vocab — the map side
      // hashes tokens straight into bucket ids and only the (doc,
      // bucket) hash agg shuffles. Shared whitespace tokenizer
      // (toksSql twin) keeps oracle parity.
      val toks = t(s, d, "documents").select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      toks.where(col("tok") =!= "")
        .withColumn("bucket",
          (conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") % 16)
            .cast("int"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bucket")
    }),
    "q_embed_rrf" -> ((s, d) => {
      // hybrid-retrieval fusion: RECIPROCAL RANK FUSION of two rankers
      // (exact cosine; int8 quantized dot — the two stages q_embed_
      // rerank pipelines) — rrf = Σ 1/(60+rank), the standard k=60
      // fusion hybrid search uses to merge dense/sparse/quantized
      // lists. Scale shape: fusion only ever sees each ranker's
      // top-100 CANDIDATE list (TakeOrderedAndProject per ranker, then
      // a 100-row rank window), never a corpus-wide rank. Absent-from-
      // a-list contributes 0, the standard convention.
      graft.functions.expressions.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val e = t(s, d, "embeddings").select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
        .localCheckpoint(true)
      val q = e.where(col("vec_id") === 0)
        .select(col("v").as("qv"),
          array_max(transform(col("v"), x => abs(x))).as("qscale"))
        .withColumn("qcodes", transform(col("qv"),
          x => when(col("qscale") === 0, lit(0.0))
            .otherwise(floor(x / col("qscale") * 127 + lit(0.5)))))
      val scored = e.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
        .withColumn("codes", transform(col("v"),
          x => when(col("scale") === 0, lit(0.0))
            .otherwise(floor(x / col("scale") * 127 + lit(0.5)))))
        .select(col("vec_id"),
          expr("cosine_sim(v, qv)").as("cos"),
          (expr("dot_fold(codes, qcodes)") * col("scale") * col("qscale")
            / lit(16129.0)).as("approx"))
        .localCheckpoint(true) // feeds both ranker top-100s
      def top(scoreCol: String, rankAs: String) =
        scored.orderBy(col(scoreCol).desc, col("vec_id")).limit(100)
          .withColumn(rankAs, row_number().over(
            Window.orderBy(col(scoreCol).desc, col("vec_id"))))
          .select(col("vec_id"), col(rankAs))
      top("cos", "ra").join(top("approx", "rb"), Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
          coalesce(col("ra"), lit(0)).cast("long").as("ra"),
          coalesce(col("rb"), lit(0)).cast("long").as("rb"),
          round(coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("vec_id")).limit(15)
    }),
    "q_embed_maxsim" -> ((s, d) => {
      // ColBERT-style LATE INTERACTION (MaxSim): similarity of two
      // vector SETS = mean over the query set of each vector's best
      // match in the document set — the multi-vector retrieval scoring
      // modern rerankers use. Sets here are the label groups; the
      // pairwise stage is bounded by GROUP sizes within a fixed
      // label-pair grid (the SemDeDup cell argument: dims-bounded,
      // never corpus-quadratic). Determinism: cosine via the codegen
      // expression rounded per pair, max per query vector, decimal-sum
      // mean — order-independent at any partitioning.
      graft.functions.expressions.GraftFunctions.register(s)
      // the QUERY side is a deterministic ~6% sample (vec_id % 17) —
      // MaxSim's production shape scores a SMALL query token set
      // against the corpus side, so pair volume is |Q|·|corpus|, and
      // |Q| is the knob (an unrestricted set-vs-set MaxSim would be
      // corpus-quadratic — the exact thing the dedup family's banding
      // exists to avoid)
      val e = t(s, d, "embeddings").select(col("label"), col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
        .localCheckpoint(true) // feeds the grid + both pair sides
      // label-pair GRID first (dims × dims — the cramers pattern; the
      // only non-equi join touches the tiny label list), then two
      // HASH equi-joins fan the query sample and the corpus into
      // their grid rows — a raw q.label < t.label join would plan a
      // BroadcastNestedLoopJoin over the CORPUS side, which is
      // exactly the cross product the lint exists to catch
      val labels = e.select(col("label")).distinct()
      val grid = labels.as("x").join(labels.as("y"),
          col("x.label") < col("y.label"))
        .select(col("x.label").as("la"), col("y.label").as("lb"))
      val best = grid
        .join(e.where(col("vec_id") % 17 === 0)
          .select(col("label").as("la"), col("vec_id").as("qid"),
            col("v").as("qv")), Seq("la"))
        .join(e.select(col("label").as("lb"), col("v").as("tv")), Seq("lb"))
        .select(col("la"), col("lb"), col("qid"),
          round(expr("cosine_sim(qv, tv)"), 6).as("cos"))
        .groupBy("la", "lb", "qid").agg(max(col("cos")).as("best"))
      best.groupBy("la", "lb")
        .agg(count(lit(1)).as("n_q"),
          round(sum(col("best").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 4).as("maxsim"))
        .orderBy("la", "lb")
    }),
    "q_embed_classify" -> ((s, d) => {
      // linear quality-classifier INFERENCE — the fastText-style
      // filtering stage every corpus pipeline runs (train offline,
      // score everything, keep above threshold). The "model" is a
      // broadcast weight vector (vec_id 1's embedding — deterministic
      // stand-in for trained weights); score = codegen'd dot_fold,
      // decision = logit > 0. The repo's float discipline: report the
      // LOGIT (rounded) and integer accept counts — no sigmoid, so no
      // cross-engine exp() drift; the monotone threshold decision is
      // identical either way. At 100 TB: one broadcast + one scan,
      // shuffle only for the per-label readout.
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      val wv = e.where(col("vec_id") === 1)
        .select(col("v").as("w"))
      e.where(col("vec_id") =!= 1).crossJoin(broadcast(wv))
        .select(col("label"), round(expr("dot_fold(v, w)"), 6).as("logit"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("logit") > 0, 1L).otherwise(0L)).cast("long").as("n_accept"),
          round(sum(col("logit").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 4).as("avg_logit"))
        .orderBy("label")
    }),
    "q_embed_perceptron" -> ((s, d) => {
      // linear quality-classifier TRAINING in-engine — the other half
      // of q_embed_classify's train-offline/score-everything split:
      // 3 unrolled FULL-BATCH perceptron epochs (w += Σ_misclassified
      // y·x over the whole corpus per epoch — the batch-gradient scan
      // shape a 1000-executor fit runs: one corpus pass + one d-row
      // broadcast per epoch, gradient agg is d-bounded with map-side
      // combine). EXACT arithmetic end to end (the repo's float rule):
      // features round(6)→DECIMAL(12,6), weights DECIMAL(20,6),
      // margins DECIMAL(38,12) — no sigmoid/learning-rate float, the
      // perceptron's sign test and ±1·x updates are decimal-exact, so
      // every epoch is bit-reproducible cross-engine. y = ±1 from the
      // label's parity; margin ≤ 0 counts as misclassified (w₀ = 0 ⇒
      // epoch-1 updates on ALL rows — the standard convention).
      // NOT spread (r21 negative result, quiet-window A/B 1.62 ->
      // 1.99 s): the 3 epochs are per-job latency-bound at this
      // corpus size, and widening the frozen single partition to 32
      // added more stage overhead than the parallelized decimal work
      // returned — unlike the pca posexplode (kept, 1.22 -> 1.05)
      val xr = t(s, d, "embeddings")
        .select(col("vec_id"),
          when(col("label") % 2 === 0, 1).otherwise(-1).as("y"),
          posexplode(col("embedding")).as(Seq("j0", "x0")))
        .select(col("vec_id"), col("y"), (col("j0") + 1).as("j"),
          round(col("x0").cast("double"), 6).cast("decimal(12,6)").as("x"))
      Similarity.perceptronEpochs(xr, dims = 64, epochs = 3)
        .orderBy("epoch", "dim")
    }),
    "q_embed_norms" -> ((s, d) => {
      // vector-store health readout: per-label norm² distribution —
      // the drift/collapse probe run before any ANN index build (a
      // label whose norms collapse toward 0 or blow up breaks cosine
      // vs dot consistency). norm² via the codegen'd dot_fold(v, v)
      // (same left-fold order as the oracle's list_reduce), per-row
      // round(6) BEFORE the decimal sum so the per-label mean is
      // accumulation-order independent at any partitioning.
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings").select(col("label"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      e.select(col("label"), round(expr("dot_fold(v, v)"), 6).as("n2"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          min(col("n2")).as("min_n2"), max(col("n2")).as("max_n2"),
          round(sum(col("n2").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 4).as("avg_n2"))
        .orderBy("label")
    }),
    "q_text_pii" -> ((s, d) => {
      // PII redaction — the scrubbing pass every training corpus runs
      // before release (emails, IPs → typed placeholders). The fixture
      // text carries no PII, so a deterministic synthetic tail
      // (doc_id-derived email + IPv4) is appended first — identically
      // in the oracle — making the scrub provable: per-source match
      // counts plus an order-independent fingerprint (sum of per-doc
      // 48-bit md5 ints) of the REDACTED corpus. Patterns live in the
      // Java∩RE2 common dialect (character classes + bounded repeats,
      // no backrefs/lookaround), so Spark's java.util.regex and
      // DuckDB's RE2 compile the same automaton. At 100 TB this is one
      // narrow projection pass — no shuffle until the tiny per-source
      // agg.
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val withPii = t(s, d, "documents").withColumn("txt",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7")))
      withPii
        .withColumn("n_email", size(expr(s"regexp_extract_all(txt, '$email', 0)")))
        .withColumn("red", regexp_replace(
          regexp_replace(col("txt"), email, "<EMAIL>"), ip, "<IP>"))
        .withColumn("n_ip", size(expr(
          "regexp_extract_all(red, '<IP>', 0)"))) // count AFTER email scrub:
        // the injected email's host never double-counts as an IP
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).cast("long").as("n_emails"),
          sum(col("n_ip")).cast("long").as("n_ips"),
          // XOR, not SUM: a 48-bit-per-row LONG sum wraps silently in
          // Spark past ~65k docs/source while DuckDB's HUGEINT sum
          // hard-errors on the ::BIGINT cast — the engines diverge at
          // larger SFs. XOR stays 48-bit at any corpus size and is
          // order-independent; same expression in the oracle.
          bit_xor(conv(substring(md5(col("red")), 1, 12), 16, 10)
            .cast("long")).as("red_fp"))
        .orderBy("source")
    }),
    "q_text_utf8" -> ((s, d) => {
      // encoding-health stats (mojibake / multibyte detection): bytes
      // vs chars per source — the cheap corpus-quality probe that
      // catches double-encoded or binary-polluted shards. The fixture
      // is all-ASCII, so a deterministic multibyte tail (é + €, 5
      // UTF-8 bytes for 2 chars) is appended to every 7th doc in both
      // engines — here via \\u source escapes (Spark's char(n) is NOT
      // DuckDB's chr: it wraps at 256, so char(8364) would yield a
      // different codepoint), in the oracle via chr() codepoints; no
      // raw non-ASCII literal in either source file.
      val marked = t(s, d, "documents").withColumn("txt",
        concat(col("text"), when(col("doc_id") % 7 === 0,
          lit("\u00e9\u20ac")).otherwise(lit(""))))
      marked.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length(col("txt"))).cast("long").as("n_bytes"),
          sum(length(col("txt"))).cast("long").as("n_chars"),
          sum(when(octet_length(col("txt")) =!= length(col("txt")), 1L)
            .otherwise(0L)).cast("long").as("n_multibyte_docs"))
        .select(col("source"), col("n_docs"), col("n_bytes"), col("n_chars"),
          col("n_multibyte_docs"),
          round(col("n_bytes").cast("double") / col("n_chars"), 6).as("bloat"))
        .orderBy("source")
    }),
    "q_mix_upsample" -> ((s, d) => {
      // epoch-based upsampling — the mixture lever LLM pipelines pull
      // to repeat high-quality sources (books 2-4 epochs, web 1):
      // per-source factor 1.0/1.5/2.0/2.5 derived from the source id,
      // integer part = guaranteed repeats, fractional part realised
      // DETERMINISTICALLY (doc_id·37 mod 10 threshold — content-
      // independent, so the same doc repeats identically on any
      // cluster/run). explode(sequence) emits repeat rows with an
      // epoch index; the readout checks emitted/docs against the
      // factor. At 100 TB the explode is map-side row amplification —
      // no shuffle until the per-source count.
      val f = substring(col("source"), 4, 10).cast("int") % 4
      val docs = t(s, d, "documents")
        .withColumn("whole", lit(1) + (f / 2).cast("int")) // int div: / on
        // Columns is double division; truncation matches DuckDB's //
        .withColumn("extra",
          when((col("doc_id") * 37) % 10 < (f % 2) * 5, 1).otherwise(0))
        .withColumn("reps", col("whole") + col("extra"))
      docs.select(col("source"), col("doc_id"),
          explode(sequence(lit(1), col("reps"))).as("epoch"))
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_emitted"))
        .select(col("source"), col("n_docs"), col("n_emitted"),
          round(col("n_emitted").cast("double") / col("n_docs"), 4).as("realized"))
        .orderBy("source")
    }),
    "q_pipeline_datacard" -> ((s, d) => {
      // dataset datasheet (the "data card" releases ship): per-source
      // doc count, language spread + dominant language (argmax by
      // count, ties to the lexicographically smallest — the min-struct
      // trick on (-cnt, lang)), exact text-dup ratio, char volume.
      // Two hash aggs + one tiny join; every term integer-exact, only
      // the closing ratios float.
      val base = t(s, d, "documents")
      val byLang = base.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      val top = byLang.groupBy("source")
        .agg(count(lit(1)).as("n_langs"),
          min(struct((-col("c")).as("nc"), col("lang").as("l")))
            .getField("l").as("top_lang"))
      val stats = base.groupBy(col("source"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(sum(col("n")).cast("long").as("n_docs"),
          count(lit(1)).as("n_distinct"))
      val chars = base.groupBy("source")
        .agg(sum(col("n_chars")).cast("long").as("total_chars"))
      stats.join(top, "source").join(chars, "source")
        .select(col("source"), col("n_docs"), col("n_langs"), col("top_lang"),
          col("total_chars"),
          round((col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs"), 4).as("dup_ratio"),
          round(col("total_chars").cast("double") / col("n_docs"), 2)
            .as("avg_chars"))
        .orderBy("source")
    }),
    "q_sample_split" -> ((s, d) => {
      // deterministic train/val/test assignment by content-independent
      // hash of the stable id — reproducible splits at any scale, no
      // sampling-order dependence ('0d'/'1a' hex prefixes ≈ 5%/5%/90%)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          substring(md5(col("doc_id").cast("string")), 1, 2).as("h"))
        .withColumn("split",
          when(col("h") < "0d", "test").when(col("h") < "1a", "val").otherwise("train"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("first_doc"))
        .orderBy("split", "lang")
    }),
    "q_sample_stratified" -> ((s, d) => {
      // per-(lang, source) quota sampling: keep the 40 docs with the
      // smallest md5(doc_id) per stratum. Hash-ordered rank makes the
      // sample deterministic and content-independent; row_number +
      // `rk <= k` compiles to WindowGroupLimit, so each map task keeps
      // only k rows per stratum BEFORE the shuffle — at 100 TB the
      // exchange carries O(strata × k), not the corpus
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .where(col("rk") <= 40)
        .orderBy("lang", "source", "rk")
    }),
    "q_sample_neyman" -> ((s, d) => {
      // NEYMAN-allocation stratified sampling (Neyman 1934) — the
      // survey-statistics optimum the uniform quota misses: for a
      // fixed total budget, the variance-minimizing per-stratum
      // allocation is n_h ∝ N_h·σ_h, oversampling big AND
      // high-variance strata. The weight has an EXACT form:
      // N_h·σ_h = √(N_h·Σv² − (Σv)²) with population σ, so the whole
      // allocation needs just ONE IEEE sqrt per stratum (strata are
      // bounded — returnflag × linestatus) over exact 4-decimal power
      // sums of the 2-decimal value; the sqrt is term-local-rounded
      // to TWO decimals (see the magnitude note at the round site —
      // NOT the usual 6), and
      // the only remaining float op is one same-parenthesization
      // budget·w/Σw division floor'd on both engines. Selection is
      // the deterministic hash-rank quota (WindowGroupLimit — each
      // map task keeps ≤ alloc rows per stratum BEFORE the shuffle).
      // Readout per stratum: size, weight, allocation, selected
      // count, selected-value mean (decimal-summed).
      val budget = 1000L
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("v"))
      val st = li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("nh"),
          sum(col("v").cast("decimal(18,2)")).as("s1"),
          sum((col("v") * col("v")).cast("decimal(24,4)")).as("s2"))
        .select(col("l_returnflag"), col("l_linestatus"), col("nh"),
          // the power sums are exact decimals; the N·Σv² − (Σv)²
          // combination happens in DOUBLE on both engines (a decimal
          // product of two 28-digit sums would overflow precision 38
          // and silently lose exactness anyway) — identical operands,
          // identical parenthesization, one sqrt. The term-local round
          // is 2 decimals, NOT the usual 6: w ≈ 3·10⁸ at sf0.01, so
          // round(·, 6) asks for the 16th significant digit — BELOW
          // the double's ulp, and the two engines' rounding measurably
          // flipped the last digit there. The round scale must keep
          // the rounding decision well above ulp (ulp/step ≈ 10⁻⁵ at
          // 2 decimals here); the magnitude-aware exception to the
          // round(6) convention, with the reason on record.
          round(sqrt(col("nh").cast("double") * col("s2").cast("double")
            - col("s1").cast("double") * col("s1").cast("double")), 2)
            .as("w"))
      val tot = st.agg(sum(col("w").cast("decimal(24,2)")).cast("double")
        .as("sumw"))
      val alloc = st.crossJoin(broadcast(tot))
        .select(col("l_returnflag"), col("l_linestatus"), col("nh"),
          col("w"),
          floor(lit(budget) * col("w") / col("sumw")).cast("long")
            .as("alloc"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"), col("l_linestatus"))
        .orderBy(md5(concat(col("l_orderkey").cast("string"), lit("#"),
          col("l_linenumber").cast("string"))),
          col("l_orderkey"), col("l_linenumber"))
      val sel = li.withColumn("rk", row_number().over(wr))
        // LITERAL rank cut first: alloc = floor(budget·w/Σw) ≤ budget
        // always, and InferWindowGroupLimit only fires on
        // Filter(rank ≤ literal) directly above the Window — the
        // non-literal alloc compare after the join would silently
        // rank and shuffle EVERY row (r16 review); with the literal
        // pre-cut each map task keeps ≤ budget rows per stratum
        // before the exchange, then the exact per-stratum quota
        // applies on the survivors
        .where(col("rk") <= budget)
        .join(broadcast(alloc), Seq("l_returnflag", "l_linestatus"))
        .where(col("rk") <= col("alloc"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_sel"),
          round(sum(col("v").cast("decimal(18,2)")).cast("double")
            / count(lit(1)), 4).as("mean_v"))
      // a stratum whose floor'd allocation is 0 (zero-variance, w = 0)
      // selects no rows, so an inner join with the selection agg would
      // silently drop it from the census (r16 ADVICE) — LEFT-join the
      // agg onto alloc and coalesce n_sel to 0 (mean_v stays NULL) so
      // the readout is the FULL per-stratum census it claims to be
      alloc.join(sel, Seq("l_returnflag", "l_linestatus"), "left")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("nh").cast("long").as("n_h"), col("w"),
          col("alloc"), coalesce(col("n_sel"), lit(0L)).as("n_sel"),
          col("mean_v"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_sample_budget" -> ((s, d) => {
      // token-BUDGET sampling: per language, take docs in
      // hash-of-id order until 2 000 tokens are admitted (exclusive
      // prefix sum < B, so the budget overflows by at most one doc —
      // the standard "sample N tokens per domain" mixture step).
      // Scale shape: ONE window per language (exchange keyed by lang,
      // skew bounded by |langs|); the running sum is the same
      // two-phase scan q_text_pack uses. The Bernoulli alternative
      // (rate = B/total, no global order) is q_sample_split's shape —
      // this is the exact-budget path.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), tokenCount(col("text")).cast("long").as("ntok"))
        .withColumn("before", coalesce(sum(col("ntok")).over(w), lit(0L)))
        .where(col("before") < 2000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    }),
    "q_pipeline_curation" -> ((s, d) => {
      // END-TO-END curation capstone, composing the verified stages a
      // real training-data pipeline chains: exact dedup (keep the
      // min-id copy of each distinct text) -> quality gate (composite
      // score >= 0.5) -> benchmark decontamination (drop docs sharing
      // a 3-gram with the hash-designated eval slice; eval shingles
      // broadcast) -> per-language quota (hash-ranked top-100 via
      // WindowGroupLimit). Summary row per language with a
      // decimal-summed mean score (order-independent, exact oracle).
      val docs = t(s, d, "documents")
      val keeper = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      // deliberately NOT pinned despite feeding two consumers: an r11
      // harness A/B measured the pin SLOWER (2.00 vs 1.72 s median at
      // sf0.1) — materializing the wide text column costs more than
      // re-running the cheap scan + keeper join + score projection
      val qual = docs.join(keeper.select("doc_id"), "doc_id")
        .withColumn("score", graft.functions.TextFunctions.qualityScore(col("text")))
        .where(col("score") >= 0.5)
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      // NOT broadcast-hinted (r15): the eval shingle set is O(corpus)
      // — ~60k types at sf0.1 but ~6M at sf10 — so a forced broadcast
      // silently breaks the "small dim" premise as data grows; AQE's
      // stats-based choice broadcasts while it is genuinely small and
      // shuffles past that (measured: equal at sf0.1, −11% at sf10,
      // result-identical — CurationScaleProbe)
      val evalG =
        Dedup.shingleRows(docs.where(isEval), 3).select("g").distinct()
      val contaminated = Dedup.shingleRows(qual.where(!isEval), 3).distinct()
        .join(evalG, "g").select("doc_id").distinct()
      val clean = qual.where(!isEval)
        .join(contaminated, Seq("doc_id"), "left_anti")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      clean.withColumn("rk", row_number().over(w)).where(col("rk") <= 100)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"),
          round(sum(col("score").cast("decimal(38,18)")).cast("double")
            / count(lit(1)), 4).as("mean_score"))
        .orderBy("lang")
    }),
    "q_pipeline_curation2" -> ((s, d) => {
      // the EXTENDED capstone: curation v1's chain (exact dedup ->
      // quality gate -> decontamination) with the three late-r11
      // stages spliced in — corpus-frequency BOILERPLATE gate
      // (flagged docs dropped), per-language exact TOKEN BUDGET
      // (exclusive prefix sum, q_sample_budget semantics), and
      // WebDataset SHARD assignment over the admitted payload bytes
      // (q_multimodal_shard semantics) — so the whole training-data
      // path from raw corpus to shard layout is ONE composed, oracle-
      // checked query. Every stage reuses the exact logic its
      // standalone entry verifies; the per-lang windows run on the
      // survivor set, orders of magnitude below the corpus.
      val docs = t(s, d, "documents")
      val keeper = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      val qual = docs.join(keeper.select("doc_id"), "doc_id")
        .withColumn("score", graft.functions.TextFunctions.qualityScore(col("text")))
        .where(col("score") >= 0.5)
      val okBoiler = Dedup.boilerplateProfile(docs, shingleN = 3, minDocs = 3)
        .where(col("flagged") === 0).select("doc_id")
      val qual2 = qual.join(okBoiler, "doc_id")
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      // NOT broadcast-hinted (r15): the eval shingle set is O(corpus)
      // — ~60k types at sf0.1 but ~6M at sf10 — so a forced broadcast
      // silently breaks the "small dim" premise as data grows; AQE's
      // stats-based choice broadcasts while it is genuinely small and
      // shuffles past that (measured: equal at sf0.1, −11% at sf10,
      // result-identical — CurationScaleProbe)
      val evalG =
        Dedup.shingleRows(docs.where(isEval), 3).select("g").distinct()
      val contaminated = Dedup.shingleRows(qual2.where(!isEval), 3).distinct()
        .join(evalG, "g").select("doc_id").distinct()
      val clean = qual2.where(!isEval)
        .join(contaminated, Seq("doc_id"), "left_anti")
      import org.apache.spark.sql.expressions.Window
      val wPrev = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val adm = clean
        .withColumn("tc", graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long"))
        .withColumn("nb", length(col("text").cast("binary")).cast("long"))
        .withColumn("before", coalesce(sum(col("tc")).over(wPrev), lit(0L)))
        .where(col("before") < 5000)
      adm.withColumn("cb", coalesce(sum(col("nb")).over(wPrev), lit(0L)))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("tc")).cast("long").as("n_toks"),
          countDistinct(floor(col("cb") / 16384)).as("n_shards"),
          min(col("doc_id")).as("first_doc"),
          round(sum(col("score").cast("decimal(38,18)")).cast("double")
            / count(lit(1)), 4).as("mean_score"))
        .orderBy("lang")
    }),
    "q_text_lmscore" -> ((s, d) => {
      // unigram-LM scoring (the CCNet-style perplexity-proxy quality
      // filter): train token frequencies on the corpus itself, score
      // each doc by mean negative log-likelihood. Low = stereotypical
      // text, high = rare-token soup; training mixes threshold on it.
      // Two hash aggs + one token-keyed join; per-token NLL is rounded
      // then decimal-summed so the doc mean is accumulation-order
      // independent (the repo's float-determinism pattern).
      // pin: the tokenize+explode subtree feeds the frequency build,
      // the total aggregate, AND the scoring probe side — unpinned,
      // the corpus scan + regex split would execute three times
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .localCheckpoint(true)
      val freq = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = freq.agg(sum(col("cnt")).cast("double").as("n"))
      tok.join(freq, "tok").crossJoin(broadcast(tot))
        .select(col("doc_id"), round(-log(col("cnt") / col("n")), 6).as("nll"))
        .groupBy("doc_id")
        .agg(round(sum(col("nll").cast("decimal(38,18)")).cast("double")
          / count(lit(1)), 4).as("lm_nll"))
        .orderBy("doc_id")
    }),
    "q_text_vocab" -> ((s, d) => {
      // vocabulary statistics: frequency-of-frequencies, log2-binned
      // — the Zipf fingerprint plus the hapax mass (bucket 1), the
      // corpus-quality signal dedup/filter thresholds are tuned
      // against. Tokens via the word_ngrams Generator, then two hash
      // aggs; bucket = integer bit length (no float log). Output
      // ≤64 rows at any corpus size.
      graft.functions.expressions.GraftFunctions.register(s)
      val tc = t(s, d, "documents").select(expr("word_ngrams(text, 1)"))
        .groupBy("gram").agg(count(lit(1)).as("c"))
      tc.groupBy(length(bin(col("c"))).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_terms"), sum("c").cast("long").as("n_tokens"))
        .orderBy("bucket")
    }),
    "q_dedup_lsh_curve" -> ((s, d) => {
      // LSH DESIGN audit — the S-curve measured against theory: for
      // k=16/b=4/r=4 banding, theory says a pair with true Jaccard j
      // collides on ≥1 band with p = 1−(1−j⁴)⁴; this entry buckets
      // the SAMPLED ground-truth pairs (every-37th-doc sample, the
      // simhash_acc audit shape — exact Jaccard needs the shingle
      // sets, so the truth set must be a sample, never all pairs) by
      // true-Jaccard decile and reports the measured band-collision
      // rate next to the analytic curve. This is the number that
      // chooses (b, r) in a production dedup deployment. Integer
      // discipline: decile = 10·inter div union; measured rate in
      // exact ppm; the analytic column is generated ONCE in exact
      // BigDecimal arithmetic and embedded as the same literals in
      // both engines (the Benford literal-table precedent). Pairs
      // with zero shared shingles are out of frame (their analytic
      // p(0⁺)≈0 and they can only collide by md5 accident).
      //
      // Sampling is CONTENT-keyed, not id-keyed: the sample key is
      // the doc's MINIMUM shingle md5 (itself a MinHash!), keep when
      // it starts '0'/'1' (1/8). An id sample of rate s keeps a
      // ground-truth pair w.p. s² and destroys exactly the rare
      // high-Jaccard pairs the curve audits (measured here: every
      // sf0.01 near-dup pair lost at 1/37); near-dups almost surely
      // SHARE their min shingle, so the min-hash key samples whole
      // near-dup families in or out together — pair retention ≈ s,
      // curve shape preserved.
      // The truth-pair table is a staged parquet artifact (r14 verdict
      // item 7): the sample + exact-Jaccard deciles are computed once
      // per corpus and every audit rep times the candidate PROBE, the
      // same staged-artifact convention as docSignatures/phashPairs.
      // Its pair self-join carries a shingle document-frequency cap
      // (r14 verdict item 3) — see [[lshTruthPairs]]; the excluded
      // shingle-type count rides on every output row (n_sh_capped = 0
      // on the organic fixture, capped ≡ uncapped spec-pinned).
      val truth = stagedTable(s, d, "lsh_truth_cap256")(
        lshTruthPairs(s, t(s, d, "documents"), dfCap = 256))
      val cand = docCandidates(s, d)
        .select(col("doc_a").as("ca"), col("doc_b").as("cb"), lit(true).as("hit"))
      val measured = truth.join(cand,
          truth("doc_a") === col("ca") && truth("doc_b") === col("cb"),
          "left_outer")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_collide"),
          max(col("n_sh_capped")).as("n_sh_capped"))
      import s.implicits._
      val analytic = (0 to 9).map(dd => (dd.toLong, lshAnalyticPpm(dd)))
        .toDF("decile", "analytic_ppm")
      measured.join(analytic, "decile")
        .select(col("decile"), col("n_pairs"), col("n_collide"),
          expr("n_collide * 1000000 div n_pairs").as("measured_ppm"),
          col("analytic_ppm"), col("n_sh_capped"))
        .orderBy("decile")
    }),
    "q_text_ttr" -> ((s, d) => {
      // type-token ratio per source — the simplest vocabulary-
      // richness signal next to Heaps' growth fit and the Zipf slope
      // (low TTR flags template/boilerplate sources): distinct token
      // types over token occurrences, in exact integer ppm. One
      // token scan, two hash aggs.
      val tok = t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .localCheckpoint(true) // types + occurrences
      val n = tok.groupBy("source").agg(count(lit(1)).as("n_tokens"))
      val ty = tok.distinct().groupBy("source").agg(count(lit(1)).as("n_types"))
      n.join(ty, "source")
        .select(col("source"), col("n_tokens"), col("n_types"),
          expr("n_types * 1000000 div n_tokens").as("ttr_ppm"))
        .orderBy("source")
    }),
    "q_text_novelty" -> ((s, d) => {
      // eval-set n-gram NOVELTY rate — the memorization/contamination
      // quantifier next to q_text_decontaminate's drop list: of the
      // eval split's distinct 3-gram types, what fraction never
      // appears in the train split? (Low novelty ⇒ the eval set can't
      // measure generalization.) Type-level set semantics, one
      // anti-joinable hash join over the shared shingle derivation;
      // rate in exact integer ppm.
      val docs = t(s, d, "documents")
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      val evalG = Dedup.shingleRows(docs.where(isEval), 3)
        .select("g").distinct().localCheckpoint(true) // count + join
      val trainG = Dedup.shingleRows(docs.where(!isEval), 3)
        .select("g").distinct()
      val nEval = evalG.count()
      val nHit = evalG.join(trainG, "g").count()
      import s.implicits._
      Seq((nEval, nHit)).toDF("n_eval_types", "n_overlap")
        .select(col("n_eval_types"), col("n_overlap"),
          when(col("n_eval_types") === 0, lit(0L))
            .otherwise(expr(
              "(n_eval_types - n_overlap) * 1000000 div n_eval_types"))
            .as("novel_ppm"))
    }),
    "q_text_colloc" -> ((s, d) => {
      // PMI COLLOCATION mining (phrase extraction — the vocabulary/
      // tokenizer-curation step that finds "new york"-style units):
      // adjacent-token bigrams with count ≥ 5, ranked by pointwise
      // mutual information. log is monotone, so the ranking runs on
      // the exact rational c_xy·N/(c_x·c_y) in integer ppm — decimal
      // (38,0) product, one integral division, zero floats; ties
      // break (count desc, tokens asc). One token scan feeds both the
      // bigram window (per-doc, bounded partitions) and the unigram
      // hash agg; top-30 via TakeOrdered.
      val tr = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.tokens(col("text"))))
        .toDF("doc_id", "pos", "tok")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val bg = tr.withColumn("nxt", lead(col("tok"), 1).over(w))
        .where(col("nxt").isNotNull)
        .localCheckpoint(true) // feeds the pair counts AND the total
      val nTot = bg.count()
      val cxy = bg.groupBy(col("tok").as("x"), col("nxt").as("y"))
        .agg(count(lit(1)).as("cxy")).where(col("cxy") >= 5)
      val cx = tr.groupBy(col("tok").as("x")).agg(count(lit(1)).as("cx"))
        .localCheckpoint(true) // both join sides
      cxy.join(cx, "x")
        .join(cx.select(col("x").as("y"), col("cx").as("cy")), "y")
        .select(col("x"), col("y"), col("cxy"),
          expr(s"CAST(cxy AS DECIMAL(38,0)) * $nTot * 1000000 div (cx * cy)")
            .cast("long").as("pmi_ppm"))
        .orderBy(col("pmi_ppm").desc, col("cxy").desc, col("x"), col("y"))
        .limit(30)
    }),
    "q_pipeline_yield" -> ((s, d) => {
      // per-stage YIELD funnel of the curation chain — the pipeline-
      // observability readout next to the capstones (a curation run
      // without stage attrition numbers can't be audited): document
      // counts surviving each q_pipeline_curation stage, with the
      // keep rate vs the raw corpus in exact integer ppm. The six
      // stage counts are scalars by construction (the q_graph_bfs_
      // bidir assembly precedent) — each an aggregate of the same
      // distributed predicates the capstone runs.
      import s.implicits._
      val docs = t(s, d, "documents")
      val total = docs.count()
      // pinned (r21): keeper feeds BOTH its own stage count and the
      // quality stage's join — unpinned, the md5 dedup agg re-derives
      // from the raw scan for the join
      val keeper = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .localCheckpoint(true)
      val nDedup = keeper.count()
      // pinned: unlike the capstone (ONE pass, where the pin measured
      // slower than re-scanning), the funnel takes FOUR counts over
      // suffixes of this chain — without the pin each count re-derives
      // dedup+score from the raw scan (measured 4.4 s; pinned ~2 s)
      val qual = docs.join(keeper.select("doc_id"), "doc_id")
        .withColumn("score",
          graft.functions.TextFunctions.qualityScore(col("text")))
        .where(col("score") >= 0.5)
        .localCheckpoint(true)
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      // r21: the quality and holdout stage counts come from ONE
      // conditional agg over the pinned quality table, and `held`
      // stays a lazy filter of that same pin (a cheap re-filter per
      // consumer) instead of its own checkpoint+count — two fewer
      // jobs and one fewer materialization, identical counts.
      val qRow = qual.agg(count(lit(1)),
        count(when(!isEval, lit(1)))).head()
      val nQual = qRow.getLong(0)
      val nHeld = qRow.getLong(1)
      val held = qual.where(!isEval)
      // NOT broadcast-hinted (r15): the eval shingle set is O(corpus)
      // — ~60k types at sf0.1 but ~6M at sf10 — so a forced broadcast
      // silently breaks the "small dim" premise as data grows; AQE's
      // stats-based choice broadcasts while it is genuinely small and
      // shuffles past that (measured: equal at sf0.1, −11% at sf10,
      // result-identical — CurationScaleProbe)
      val evalG =
        Dedup.shingleRows(docs.where(isEval), 3).select("g").distinct()
      val contaminated = Dedup.shingleRows(held, 3).distinct()
        .join(evalG, "g").select("doc_id").distinct()
      // pinned (r21): clean feeds its own stage count AND the quota
      // window — unpinned, the nFinal pass re-ran the whole shingle
      // decontamination (two shingle scans + the contamination join),
      // the funnel's most expensive derivation, a second time
      val clean = held.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val nClean = clean.count()
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val nFinal = clean.withColumn("rk", row_number().over(wq))
        .where(col("rk") <= 100).count()
      Seq(("00_total", total), ("10_dedup", nDedup), ("20_quality", nQual),
          ("30_holdout", nHeld), ("40_decontam", nClean), ("50_quota", nFinal))
        .toDF("stage", "n_out")
        .select(col("stage"), col("n_out"),
          expr(s"n_out * 1000000 div $total").as("keep_ppm"))
        .orderBy("stage")
    }),
    "q_text_heaps" -> ((s, d) => {
      // Heaps'-law vocabulary-GROWTH fit V(n) = K·n^β — the zipf
      // sibling along the other axis: zipf fingerprints the frequency
      // profile at a point in time, Heaps fingerprints how vocabulary
      // scales as the corpus grows (β ≈ 0.5–0.8 for natural text; a
      // low β flags template/duplicated corpora, β ≈ 1 flags noise/
      // random tokens). Types here are word 3-GRAMS, not unigrams —
      // the synthetic fixture draws from a tiny closed word list
      // (31 words at sf0.001), so the unigram vocabulary saturates in
      // the first handful of docs and the unigram fit is degenerate
      // (β = 0 in BOTH engines); the 3-gram type space is the
      // combinatorial one whose growth the law is about. Shape: two
      // corpus-wide hash aggs (per-doc type counts; per-type
      // FIRST-occurrence doc via min(doc_id), re-aggregated to
      // per-doc new-vocab counts) reduce the corpus to one tiny
      // (doc_id, nt, nv) summary; 16 evenly-spaced doc_id thresholds
      // then turn cumulative (types-seen, vocab) checkpoints into one
      // 16-group agg over a broadcast range join — no global window,
      // no sort, the summary is the only thing the cumulative step
      // touches. Fit: round-after-ln DECIMAL(12,6) power sums + the
      // q_agg_regr closed forms, exactly the q_text_zipf recipe.
      graft.functions.expressions.GraftFunctions.register(s)
      val docs = t(s, d, "documents")
      val tokr = docs.select(col("doc_id"), expr("word_ngrams(text, 3)"))
        .select(col("doc_id"), col("gram").as("tok"))
      val perDoc = tokr.groupBy("doc_id").agg(count(lit(1)).as("nt"))
        .join(tokr.groupBy("tok").agg(min(col("doc_id")).as("fdoc"))
            .groupBy(col("fdoc").as("doc_id")).agg(count(lit(1)).as("nv")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
      val ck = s.range(1, 17).select(col("id").as("k"))
        .crossJoin(broadcast(docs.agg(max(col("doc_id")).as("m"))))
        .select(col("k"), expr("m * k div 16").as("thr"))
      val pts = perDoc.join(broadcast(ck), col("doc_id") <= col("thr"))
        .groupBy("k").agg(sum("nt").as("n_toks"), sum("nv").as("vocab"))
        .where(col("n_toks") > 0 && col("vocab") > 0)
        .select(
          round(log(col("n_toks").cast("double")), 6)
            .cast("decimal(12,6)").as("lx"),
          round(log(col("vocab").cast("double")), 6)
            .cast("decimal(12,6)").as("ly"))
      val g = pts.agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("lx")), 6).cast("double").as("sx"),
        round(sum(col("ly")), 6).cast("double").as("sy"),
        round(sum(col("lx") * col("ly")), 6).cast("double").as("sxy"),
        round(sum(col("lx") * col("lx")), 6).cast("double").as("sxx"),
        round(sum(col("ly") * col("ly")), 6).cast("double").as("syy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val denx = col("n") * col("sxx") - col("sx") * col("sx")
      val deny = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("n").cast("long").as("n_pts"),
        round(num / denx, 6).as("beta"),
        round((col("sy") - num / denx * col("sx")) / col("n"), 6).as("lnk"),
        round(num / denx * (num / deny), 6).as("r2"))
    }),
    "q_text_zipf" -> ((s, d) => {
      // Zipf rank-frequency FIT — log-log OLS over the top-200 terms:
      // slope ≈ −1 is the healthy-natural-text signature; a flat slope
      // flags template/boilerplate corpora and a cliff flags
      // vocabulary collapse (the corpus-level twin of q_text_vocab's
      // frequency-of-frequencies fingerprint, which bins but does not
      // fit). Float discipline: ln(rank)/ln(count) rounded immediately
      // after the transcendental (the q_text_bm25 round-after-ln
      // rule), stored as DECIMAL(12,6) so the power sums are exact and
      // accumulation-order free, then the q_agg_regr closed forms with
      // the identical parenthesization in the oracle. Token counts are
      // one Generate-stage pass + hash agg; the top-200 selection is a
      // TakeOrderedAndProject, so the window rank runs on 200 rows.
      import org.apache.spark.sql.expressions.Window
      graft.functions.expressions.GraftFunctions.register(s)
      val tc = t(s, d, "documents").select(expr("word_ngrams(text, 1)"))
        .groupBy("gram").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("gram")).limit(200)
      val pts = tc
        .withColumn("rk", row_number().over(
          Window.orderBy(col("c").desc, col("gram"))))
        .select(
          round(log(col("rk").cast("double")), 6)
            .cast("decimal(12,6)").as("lx"),
          round(log(col("c").cast("double")), 6)
            .cast("decimal(12,6)").as("ly"))
      val g = pts.agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("lx")), 6).cast("double").as("sx"),
        round(sum(col("ly")), 6).cast("double").as("sy"),
        round(sum(col("lx") * col("ly")), 6).cast("double").as("sxy"),
        round(sum(col("lx") * col("lx")), 6).cast("double").as("sxx"),
        round(sum(col("ly") * col("ly")), 6).cast("double").as("syy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val denx = col("n") * col("sxx") - col("sx") * col("sx")
      val deny = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("n").cast("long").as("n_terms"),
        round(num / denx, 6).as("slope"),
        round((col("sy") - num / denx * col("sx")) / col("n"), 6).as("intercept"),
        round(num / denx * (num / deny), 6).as("r2"))
    }),
    "q_text_lift" -> ((s, d) => {
      // collocation strength as LIFT = N·c(xy) / (c(x)·c(y)) — the
      // PMI numerator/denominator without the log, so the only float
      // op is ONE division of exact integer products (cross-engine
      // log() is not reliably bit-identical; lift ranks identically
      // to PMI since log is monotone). Unigrams AND bigrams both come
      // from the word_ngrams Generator — two Generate-stage passes,
      // two hash aggs, two broadcast joins of the bigram table
      // against the unigram counts.
      graft.functions.expressions.GraftFunctions.register(s)
      val docs = t(s, d, "documents")
      val uni = docs.select(expr("word_ngrams(text, 1)"))
        .groupBy(col("gram").as("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // joined twice + totalled once
      val total = uni.agg(sum("c").cast("long").as("n"))
      val bi = docs.select(expr("word_ngrams(text, 2)"))
        .groupBy("gram").agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 20)
        .withColumn("w1", element_at(split(col("gram"), " "), 1))
        .withColumn("w2", element_at(split(col("gram"), " "), 2))
      bi.join(broadcast(uni.select(col("w").as("w1"), col("c").as("cx"))), "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("cy"))), "w2")
        .crossJoin(broadcast(total))
        .select(col("gram"), col("cxy"),
          round(col("cxy").cast("double") * col("n") / (col("cx") * col("cy")), 4).as("lift"))
        .orderBy(col("lift").desc, col("gram")).limit(15)
    }),
    "q_udtf_ngrams" -> ((s, d) => {
      // the word_ngrams GENERATOR (native Catalyst UDTF) in the gate:
      // shingles emitted inside the scan stage's Generate node — no
      // posexplode + window lead, no per-document sort — then folded
      // per doc. Oracle rebuilds the same 3-gram rows with the shared
      // tokenizer fragment, so generator semantics (position range,
      // token normalization, short-doc emptiness) are value-checked.
      graft.functions.expressions.GraftFunctions.register(s)
      t(s, d, "documents").where(col("doc_id") % 25 === 0)
        .select(col("doc_id"), expr("word_ngrams(text, 3)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
             countDistinct(col("gram")).as("n_unique"),
             min("gram").as("first_gram"))
        .orderBy("doc_id")
    }),
    "q_text_winnow" -> ((s, d) => {
      // Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the
      // MOSS local document fingerprint): hash every word-3-gram, then
      // in each window of 5 consecutive shingles select the minimum
      // hash; the distinct selected hashes are the doc's fingerprints.
      // Guarantees any shared run of >= w+k-1 tokens yields a shared
      // fingerprint, with density 2/(w+1) — the local-sampling
      // counterpart to q_dedup_substring's exact spans. Shingles come
      // from the word_ngrams Generator (positions included), the
      // window min is a per-doc ROWS frame — ONE exchange keyed by
      // doc_id carries the count window, the min window, the distinct,
      // and the final fold. md5-string min is engine-identical, so the
      // oracle rebuilds the exact fingerprint sets. Short docs (< 7
      // tokens: no complete window) report 0 via the left join.
      graft.functions.expressions.GraftFunctions.register(s)
      val w = 5
      import org.apache.spark.sql.expressions.Window
      val sh = t(s, d, "documents")
        .select(col("doc_id"), expr("word_ngrams(text, 3)"))
        .select(col("doc_id"), col("pos"), md5(col("gram")).as("h"))
      val winMin = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
      val fps = sh
        .withColumn("n_sh", count(lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("fp", min(col("h")).over(winMin))
        .where(col("pos") <= col("n_sh") - w) // complete windows only (pos 0-based)
        .select(col("doc_id"), col("fp")).distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_fp"),
          min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
      t(s, d, "documents").select(col("doc_id"))
        .join(fps, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          col("min_fp"), col("max_fp"))
        .orderBy("doc_id")
    }),
    "q_er_match" -> ((s, d) => {
      // Entity resolution: blocking + bounded pairwise match — the
      // record-linkage primitive. Candidate pairs come from an
      // EQUI-join on the composite blocking key (nation, segment) —
      // never an all-pairs cross — then the thresholded levenshtein
      // (3-arg built-in: banded O(k·n) DP, returns -1 past the bound)
      // scores each candidate and keeps dist <= 2. At 100 TB blocking
      // keys bound every reducer at |block|² like SemDeDup's cells;
      // skewed blocks would take the same salting the dedup band
      // joins carry. Customer names are fixed-format, so the distance
      // is integer-exact in both engines.
      // threshold = the MATCH bound (2): lev(_,_,2) returns -1 for
      // anything above 2, so the whole match rule is the single
      // residual `lev >= 0` folded into the join condition. A/B'd
      // honestly against `between(0, 2)` on a k=3 band at sf0.1: both
      // measure ~4.7 s — codegen's subexpression elimination already
      // collapses the duplicate lev calls, so the win here is clarity
      // (one predicate, the tightest band), not speed.
      // REFINED blocking key (r12): the coarse (nation, segment) block
      // admitted ~900k banded DPs at sf0.1 (3.15 s cross-round min);
      // adding the name PREFIX (chars 1-14: the fixed "Customer#" head
      // + the 5 high digits) as a third equi-key cuts candidates to
      // ~500k (1.8 s). Recall analysis (DuckDB, both fixtures):
      // IDENTICAL match set at sf0.01 — every lev<=2 match there
      // shares >=14 leading chars (min observed LCP = 14), so the
      // prefix is the LONGEST exact block at the gate scale. At sf0.1
      // a ~3% tail of rotation-shaped pairs (1 insert + 1 delete
      // shifting the digits, LCP 13) falls outside the refined class —
      // the standard precision/recall/cost trade blocking keys encode
      // (tools/Stress 'er_blocking_x10_refined' measures the cost axis
      // of a harsher key the same way). Pigeonhole segment unions were
      // measured too and CANNOT be exact here: shift pairs have
      // hamming up to 5, so no partition-agreement scheme catches
      // them. The identical key is applied in the oracle, so engine
      // and oracle stay pairwise identical by construction at any SF.
      // Common-prefix stripping (r12, exact): within a block the two
      // names share chars 1-14, and ed(P·u, P·v) = ed(u, v) — the
      // standard prefix-strip identity every edit-distance library
      // applies — so the banded DP runs on the 4-char TAILS instead of
      // the full 18-char names (~4.5x less DP work per candidate; the
      // oracle keeps full-name levenshtein, provably equal in-block).
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        substring(col("c_name"), 1, 14).as("c_nameblk"),
        substring(col("c_name"), 15, 4).as("c_nametail"))
      c.as("x").join(c.as("y"),
          col("x.c_nationkey") === col("y.c_nationkey") &&
          col("x.c_mktsegment") === col("y.c_mktsegment") &&
          col("x.c_nameblk") === col("y.c_nameblk") &&
          col("x.c_custkey") < col("y.c_custkey"))
        .select(col("x.c_custkey").as("a"), col("y.c_custkey").as("b"),
          levenshtein(col("x.c_nametail"), col("y.c_nametail"), 2).as("dist"))
        .where(col("dist") >= 0)
        .orderBy("a", "b")
    }),
    "q_er_cluster" -> ((s, d) => {
      // ER CLUSTERING — the golden-record step after pairwise
      // matching: q_er_match's pairs become an undirected match graph
      // and connected components assign each record its entity id
      // (min custkey in the cluster); the output is the multi-record
      // entity census a survivorship rule would consume. Same blocked
      // pair generation (equi-join on the composite key, never
      // all-pairs); the CC input tracks MATCH density, not corpus
      // size, so the component loop is bounded by clone-family
      // diameter at any SF. Oracle: recursive min-label closure over
      // the identical pair set (lev<=2 clusters are tiny, so the
      // closure row count is bounded by sum of squared cluster sizes).
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        substring(col("c_name"), 1, 14).as("c_nameblk"),
        substring(col("c_name"), 15, 4).as("c_nametail"))
      val pairs = c.as("x").join(c.as("y"),
          col("x.c_nationkey") === col("y.c_nationkey") &&
          col("x.c_mktsegment") === col("y.c_mktsegment") &&
          col("x.c_nameblk") === col("y.c_nameblk") &&
          col("x.c_custkey") < col("y.c_custkey"))
        .select(col("x.c_custkey").as("src"), col("y.c_custkey").as("dst"),
          levenshtein(col("x.c_nametail"), col("y.c_nametail"), 2).as("dist"))
        .where(col("dist") >= 0)
        .select(col("src"), col("dst"))
      // connectedComponents symmetrizes its input itself — the a<b
      // pair list goes in as-is
      graft.operators.Traversals.contractedComponents(pairs)
        .groupBy(col("component").as("entity"))
        .agg(count(lit(1)).as("n_records"),
          min("vertex").as("min_key"), max("vertex").as("max_key"))
        .orderBy("entity")
    }),
    "q_sketch_kmv" -> ((s, d) => {
      // KMV (k-minimum-values) distinct sketch — the OTHER classic
      // estimator family next to HLL (Bar-Yossef et al. 2002): keep
      // the k smallest normalized hashes; est = (k-1)/θ where θ is the
      // k-th smallest. Deterministic md5 hashes (exact 48-bit-integer
      // / 2^48 doubles) make θ — and so the ESTIMATE — bit-identical
      // in the DuckDB twin. Groups holding < k distinct keys report
      // exactly (the sketch degenerates to the full set — the standard
      // small-cardinality exactness). The '_all' row re-ranks the
      // union of per-type key sets: a KMV union is just "k smallest of
      // the merged candidate sets", the mergeability HLL gets from
      // register max. State: k hashes per group, however many rows
      // stream through.
      val K = 32
      val e = Tables.events(s, d).select(col("event_type"),
          col("user_id").cast("string").as("k0")).distinct()
        .localCheckpoint(true) // feeds per-type rows AND the _all union
      val grps = e.unionByName(
        e.select(lit("_all").as("event_type"), col("k0")).distinct())
      val u = (conv(substring(md5(concat(lit("kmv|"), col("k0"))), 1, 12), 16, 10)
        .cast("double") / lit(281474976710656.0)).as("u")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val ranked = grps.select(col("event_type"), u)
        .withColumn("rn", row_number().over(w.orderBy("u")))
        .withColumn("n", count(lit(1)).over(w))
      ranked.groupBy("event_type")
        .agg(max(col("n")).cast("long").as("n_exact"),
          max(when(col("rn") === K, col("u"))).as("theta"))
        .select(col("event_type").as("grp"), col("n_exact"),
          round(when(col("n_exact") < K, col("n_exact").cast("double"))
            .otherwise(lit(K - 1).cast("double") / col("theta")), 4).as("kmv_est"))
        .orderBy("grp")
    }),
    "q_text_bleu" -> ((s, d) => {
      // BLEU-style modified n-gram precision between near-dup
      // CANDIDATE pairs — eval metrics computed in-engine (candidate-
      // quality scoring, MT-style similarity): for each banded pair
      // (a, b), clipped unigram and bigram precision of b against a
      // (Σ min(count_a, count_b) / Σ count_b — the Papineni 2002
      // clipping). Pairs come from the SAME memoized MinHash candidate
      // table as the dedup family (never all-pairs); counts are two
      // hash aggs over the word_ngrams Generator; integer arithmetic
      // with one closing division per order.
      graft.functions.expressions.GraftFunctions.register(s)
      val cand = docCandidates(s, d).select("doc_a", "doc_b")
      // spread before the n-gram Generator (r21, guide §2.5): the
      // sub-split scan otherwise tokenizes single-task, and the pin
      // freezes that one-partition layout for the three join consumers
      def counts(n: Int) = Tables.spread(t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), expr(s"word_ngrams(text, $n)"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // feeds both pair sides + the totals
      def hits(cnts: DataFrame) = cand
        .join(cnts.select(col("doc_id").as("doc_a"), col("gram"),
          col("c").as("ca")), Seq("doc_a"))
        .join(cnts.select(col("doc_id").as("doc_b"), col("gram"),
          col("c").as("cb")), Seq("doc_b", "gram"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(least(col("ca"), col("cb"))).as("hit"))
      def tots(cnts: DataFrame) =
        cnts.groupBy(col("doc_id").as("doc_b")).agg(sum("c").as("tot"))
      val u = counts(1); val b2 = counts(2)
      cand
        .join(hits(u).withColumnRenamed("hit", "h1"), Seq("doc_a", "doc_b"), "left_outer")
        .join(tots(u).withColumnRenamed("tot", "t1"), Seq("doc_b"), "left_outer")
        .join(hits(b2).withColumnRenamed("hit", "h2"), Seq("doc_a", "doc_b"), "left_outer")
        .join(tots(b2).withColumnRenamed("tot", "t2"), Seq("doc_b"), "left_outer")
        .select(col("doc_a"), col("doc_b"),
          round(coalesce(col("h1"), lit(0L)).cast("double") /
            coalesce(col("t1"), lit(1L)), 4).as("p1"),
          round(coalesce(col("h2"), lit(0L)).cast("double") /
            coalesce(col("t2"), lit(1L)), 4).as("p2"))
        .orderBy("doc_a", "doc_b")
    }),
    "q_dedup_priority" -> ((s, d) => {
      // cross-source duplicate RESOLUTION — exact dedup's production
      // sibling (the C4/RefinedWeb rule): when the same text appears
      // in several sources, keep the copy from the highest-priority
      // tier (curated > web), ties to the smallest doc_id. One
      // digest-keyed hash agg with a min-struct argmin — only 16-byte
      // hashes + the tiny (tier, id) struct shuffle. Readout: per
      // source, docs kept vs docs lost to a higher-priority clone.
      val tier = substring(col("source"), 4, 10).cast("int") % 3
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"), tier.as("tier"),
          md5(col("text")).as("h"))
      val keep = base.groupBy("h")
        .agg(min(struct(col("tier"), col("doc_id").as("id")))
          .getField("id").as("keep_id"), count(lit(1)).as("clones"))
      base.join(keep, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
            .cast("long").as("n_kept"),
          sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
            .cast("long").as("n_dropped"))
        .orderBy("source")
    }),
    "q_sketch_kmv_intersect" -> ((s, d) => {
      // KMV/theta-sketch INTERSECTION — the set-algebra capability HLL
      // structurally lacks (register-max only unions) and the reason
      // theta sketches exist: from each type's k-minimum-values
      // retained set, |A∩B| ≈ |{u ∈ retainedA ∩ retainedB : u < θ}|/θ
      // with θ = min(θ_A, θ_B) — overlap of user audiences estimated
      // from two tiny per-type sketches, never re-scanning the raw
      // pairs. Deterministic md5 hashes (the q_sketch_kmv encoding)
      // keep the estimate — and so the gate compare — exact. Output
      // per unordered type pair: exact common users vs the estimate.
      val K = 32
      val e = Tables.events(s, d).select(col("event_type"),
          col("user_id").cast("string").as("k0")).distinct()
        .localCheckpoint(true) // feeds the sketch build AND the exact join
      val u = (conv(substring(md5(concat(lit("kmv|"), col("k0"))), 1, 12), 16, 10)
        .cast("double") / lit(281474976710656.0)).as("u")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("u")
      val ranked = e.select(col("event_type"), u)
        .withColumn("rn", row_number().over(w))
      val theta = ranked.groupBy("event_type")
        .agg(coalesce(max(when(col("rn") === K, col("u"))), lit(1.0)).as("theta"))
      val retained = ranked.where(col("rn") < K)
        .select(col("event_type"), col("u"))
      val common = retained.as("a").join(retained.as("b"),
          col("a.u") === col("b.u") &&
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
          col("a.u").as("u"))
        .join(broadcast(theta).select(col("event_type").as("ta"),
          col("theta").as("tha")), Seq("ta"))
        .join(broadcast(theta).select(col("event_type").as("tb"),
          col("theta").as("thb")), Seq("tb"))
        .where(col("u") < least(col("tha"), col("thb")))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("c"), min(least(col("tha"), col("thb"))).as("th"))
      val exact = e.as("x").join(e.as("y"),
          col("x.k0") === col("y.k0") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
        .agg(count(lit(1)).as("n_exact"))
      exact.join(common, Seq("ta", "tb"), "left_outer")
        .select(col("ta"), col("tb"), col("n_exact").cast("long").as("n_exact"),
          round(coalesce(col("c").cast("double") / col("th"), lit(0.0)), 4)
            .as("kmv_est"))
        .orderBy("ta", "tb")
    }),
    "q_text_lmscore2" -> ((s, d) => {
      // bigram LM scoring with Laplace smoothing — the sharper
      // perplexity proxy over q_text_lmscore's unigram model:
      // P(w|prev) = (c(prev w) + 1) / (c(prev ·) + V), history counts
      // from the bigram table itself, V = corpus vocabulary size
      // (broadcast scalar). Bigrams come from the word_ngrams
      // Generator; the corpus model is two hash aggs; scoring is two
      // hash joins keyed by gram/history. Per-position NLL rounds then
      // decimal-sums (the accumulation-order-independence pattern).
      graft.functions.expressions.GraftFunctions.register(s)
      val docs = t(s, d, "documents")
      // pin: the bigram subtree feeds the model build (2 aggs) AND the
      // probe side
      val bi = docs.select(col("doc_id"), expr("word_ngrams(text, 2)"))
        .select(col("doc_id"), col("gram"),
          element_at(split(col("gram"), " "), 1).as("prev"))
        .localCheckpoint(true)
      val bcnt = bi.groupBy("gram").agg(count(lit(1)).as("cb"))
      val hist = bi.groupBy("prev").agg(count(lit(1)).as("ch"))
      val vocab = docs.select(explode(tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).cast("double").as("v"))
      bi.join(bcnt, "gram").join(hist, "prev").crossJoin(broadcast(vocab))
        .select(col("doc_id"), round(-log((col("cb") + 1).cast("double") /
          (col("ch").cast("double") + col("v"))), 6).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("nll").cast("decimal(38,18)")).cast("double")
            / count(lit(1)), 4).as("bi_nll"))
        .orderBy("doc_id")
    }),
    "q_sketch_hll_merge" -> ((s, d) => {
      // HLL MERGEABILITY in-gate: per-event-type register sets are
      // max-merged into a corpus-wide register set, and the union
      // estimate is computed from the MERGE — never by rescanning the
      // data. Register max is associative/commutative, so the merged
      // estimate is bit-identical to a direct build; this is the
      // property that lets a 100 TB deployment keep per-partition /
      // per-day sketches and union them at query time (the Druid /
      // ClickHouse rollup pattern). Same md5-derived deterministic
      // registers as q_sketch_hll / q_stream_hll, so the DuckDB twin
      // rebuilds both the per-type and merged registers exactly.
      val e = Tables.events(s, d)
        .select(col("event_type"), col("user_id").cast("string").as("k"))
        .localCheckpoint(true) // feeds registers + both exact counts
      val h = md5(concat(lit("hll|"), col("k")))
      val perType = e.select(col("event_type"),
          (conv(substring(h, 1, 8), 16, 10).cast("long") % 64).cast("int").as("idx"),
          conv(substring(h, 9, 8), 16, 10).cast("long").as("v"))
        .select(col("event_type"), col("idx"),
          when(col("v") === 0, lit(33))
            .otherwise(lit(33) - length(bin(col("v")))).as("rho"))
        .groupBy("event_type", "idx").agg(max("rho").as("m"))
        .localCheckpoint(true) // read twice: per-type rows + the merge
      val merged = perType.groupBy("idx").agg(max("m").as("m"))
        .select(lit("_all").as("event_type"), col("idx"), col("m"))
      val exact = e.groupBy("event_type").agg(countDistinct("k").as("n_exact"))
        .unionByName(e.agg(countDistinct("k").as("n_exact"))
          .select(lit("_all").as("event_type"), col("n_exact")))
      perType.select(col("event_type"), col("idx"), col("m")).unionByName(merged)
        .groupBy("event_type")
        .agg(sum(pow(lit(2.0), -col("m"))).as("ssum"), count(lit(1)).as("nreg"))
        .join(exact, "event_type")
        .select(col("event_type").as("grp"), col("n_exact"),
          round(lit(0.709) * 4096.0 /
            (col("ssum") + (lit(64) - col("nreg")) * 1.0), 4).as("n_est"))
        .orderBy("grp")
    }),
    "q_dedup_minhash_acc" -> ((s, d) => {
      // MinHash accuracy readout (the embed_recall counterpart for the
      // text side): every LSH candidate pair carries its 16-component
      // signature ESTIMATE next to the TRUE shingle-set Jaccard — the
      // in-engine measurement of what the k=16 signature buys. Both
      // sides come from the session memos (signatures + candidate
      // graph + shingle sets), so the query costs two joins and an
      // array intersect per candidate, not a corpus rescan. True
      // Jaccard is an integer ratio, est is matches/16 — both exact.
      val est = Dedup.minhashPairs(t(s, d, "documents"), k = 16, bands = 4,
        minEst = 0.0, sigOpt = Some(docSignatures(s, d)),
        candOpt = Some(docCandidates(s, d)))
      val sets = memoTable(s, d, "ngram_sets_3")(
        Dedup.ngramShingleSets(t(s, d, "documents"), shingleN = 3))
      val a = sets.select(col("doc_id").as("doc_a"), col("gs").as("ga"))
      val b = sets.select(col("doc_id").as("doc_b"), col("gs").as("gb"))
      est.join(a, "doc_a").join(b, "doc_b")
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
        .select(col("doc_a"), col("doc_b"), col("est"),
          round(col("inter").cast("double") /
            (size(col("ga")) + size(col("gb")) - col("inter")), 4).as("jac"))
        .orderBy("doc_a", "doc_b")
    }),
    "q_sketch_hll" -> ((s, d) => {
      // Deterministic HyperLogLog (Flajolet et al. 2007), exact-oracle
      // edition: md5-derived register index (6 bits) and 32-bit rank
      // value, so the DuckDB twin rebuilds the IDENTICAL 64 registers
      // — the same determinism trick q_sketch_cms uses, upgrading
      // approx-distinct from the rows-only q_agg_approx exemption to
      // a hash-matched gate row. rho is computed with INTEGER string
      // ops (33 - length(bin(v))), never float log2; the register
      // harmonic sum is ≤64 dyadic terms spanning 2^0..2^-33, exactly
      // representable in a double, so both engines compute the same
      // IEEE estimate bit-for-bit. Raw estimator by spec (no
      // small-range correction — the oracle replicates the estimator,
      // SketchAndBloomSpec checks its accuracy). Scale shape: state
      // is 64 registers however many rows stream through; the
      // register fold is a partial+final max agg.
      val h = md5(concat(lit("hll|"), col("k")))
      val regs = t(s, d, "orders").select(col("o_custkey").cast("string").as("k"))
        .select(
          (conv(substring(h, 1, 8), 16, 10).cast("long") % 64).cast("int").as("idx"),
          conv(substring(h, 9, 8), 16, 10).cast("long").as("v"))
        .select(col("idx"),
          when(col("v") === 0, lit(33)).otherwise(lit(33) - length(bin(col("v")))).as("rho"))
        .groupBy("idx").agg(max("rho").as("m"))
      val exact = t(s, d, "orders").agg(countDistinct("o_custkey").as("n_exact"))
      regs.agg(
          sum(pow(lit(2.0), -col("m"))).as("ssum"), count(lit(1)).as("nreg"))
        .crossJoin(exact)
        .select(col("n_exact"),
          round(lit(0.709) * 4096.0 /
            (col("ssum") + (lit(64) - col("nreg")) * 1.0), 4).as("n_est"))
    }),
    "q_sketch_cms" -> ((s, d) => {
      // Count-min sketch heavy hitters: the fixed-size frequency
      // sketch (Cormode & Muthukrishnan, J. Algorithms 2005) — d=3 rows ×
      // w=256 counters of O(1) state regardless of key cardinality,
      // est(key) = min over rows of cell[r][hash_r(key)], always
      // >= the true count (collisions only ADD). Hashes are
      // md5-derived so the DuckDB twin rebuilds the identical sketch
      // and the estimates hash-match exactly. Scale shape: the sketch
      // build is one partial-aggregated groupBy over (r, cell) —
      // ≤ d·w groups, so the shuffle carries at most d·w rows per
      // input partition however many tokens stream through; the probe
      // joins 10 keys × d rows against the ≤ d·w-row cell table.
      // Output: (tok, exact_cnt, est_cnt) for the top-10 exact tokens
      // — exact vs estimate side by side is the verification the
      // oracle needs, and est_cnt >= exact_cnt is also asserted as a
      // property in SketchSpec.
      val D = 3; val W = 256
      // ONE pin (repo read-twice rule): the exploded token table feeds
      // both the cell build and the exact top-10 — unpinned, the full
      // tokenize pass would execute twice
      // NOT spread (r21 negative result, quiet-window A/B): a wash
      // (1.13 vs 1.15 s) — the sketch build is agg-dominated, and the
      // tokenize pass is cheap enough that one task covers it
      val tok = t(s, d, "documents").select(explode(tokens(col("text"))).as("tok"))
        .localCheckpoint(true)
      def cellOf(r: Int): Column =
        (conv(substring(md5(concat(lit(s"$r|"), col("tok"))), 1, 8), 16, 10)
          .cast("long") % W).cast("int")
      val cells = tok
        .select(posexplode(array((0 until D).map(cellOf): _*)))
        .toDF("r", "c")
        .groupBy("r", "c").agg(count(lit(1)).as("cell_cnt"))
      val top = tok.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(10)
      top.select(col("tok"), col("exact_cnt"),
          posexplode(array((0 until D).map(cellOf): _*)))
        .toDF("tok", "exact_cnt", "r", "c")
        .join(cells, Seq("r", "c"))
        .groupBy("tok", "exact_cnt").agg(min(col("cell_cnt")).as("est_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok"))
    }),
    "q_sample_weighted" -> ((s, d) => {
      // quality-weighted Bernoulli sampling: keep a doc iff its
      // content-independent hash-uniform u(doc_id) = md5[0:6]/16^6 is
      // below its quality score — the standard way a training mix
      // up-samples high-quality documents. Deterministic (same corpus
      // → same sample under any partitioning), one corpus pass, no
      // shuffle before the final sort; u is a 24-bit dyadic rational
      // so the comparison is bit-identical across engines.
      val u = expr("conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10)")
        .cast("long").cast("double") / 16777216.0
      t(s, d, "documents")
        .withColumn("score", graft.functions.TextFunctions.qualityScore(col("text")))
        .where(u < col("score"))
        .select(col("doc_id"), col("score"))
        .orderBy("doc_id")
    }),
    "q_mix_shuffle" -> ((s, d) => {
      // deterministic TRAINING-ORDER shuffle + mixture-balance audit:
      // training data must be read in a decorrelated order (curated
      // corpora arrive source- and time-clustered; a sequential read
      // feeds the model long runs of one domain), so the standard move
      // is hash-resharding — shard = md5(doc_id) mod 16 — which is
      // reproducible, seekable, and needs no global sort. The audit
      // PROVES the property the shuffle is for: per shard, the worst
      // per-language deviation from the global mixture, as the exact
      // cross-multiplied integer |n_sl·N − n_l·N_s| (zero would be a
      // perfectly proportional shard; hash placement keeps it near
      // the binomial band). A full shard×lang spine (16 × |langs|
      // broadcast rows) makes missing languages count at full weight.
      // ONE corpus scan: the marginals lt/st/nn are derived from the
      // pinned ≤16×|langs| sl table, not re-aggregated from the scan.
      // Capacity envelope: n_l·n_s ≤ N²/16, so Long holds the
      // cross-product up to N ≈ 1.2·10¹⁰ docs — past that the two
      // products need one decimal(38,0) cast (loud ANSI refusal
      // before then, the pca-envelope convention).
      val sh = t(s, d, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("shard",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10) % 16)
            .cast("int"))
      val sl = sh.groupBy("shard", "lang").agg(count(lit(1)).as("nsl"))
        .localCheckpoint(true) // the three marginals + the dev join
      val lt = sl.groupBy("lang").agg(sum("nsl").cast("long").as("nl"))
      val st = sl.groupBy("shard").agg(sum("nsl").cast("long").as("ns"))
      val nTot = sl.agg(sum("nsl").cast("long").as("nn"))
      val spine = st.crossJoin(broadcast(lt)).crossJoin(broadcast(nTot))
      val dev = spine
        .join(sl, Seq("shard", "lang"), "left_outer")
        .select(col("shard"), col("lang"), col("ns"),
          abs(coalesce(col("nsl"), lit(0L)) * col("nn") -
            col("nl") * col("ns")).as("dev"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("dev").desc, col("lang"))
      dev.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("shard"), col("ns").cast("long").as("n_docs"),
          col("dev").cast("long").as("max_dev"), col("lang").as("dev_lang"))
        .orderBy("shard")
    }),
    "q_pack_sequences" -> ((s, d) => {
      // SEQUENCE-PACKING audit — the batch-assembly step between a
      // curated corpus and the training loop: documents concatenate
      // in deterministic doc_id order per language stream and split
      // into fixed 2048-token training sequences (the GPT-style
      // concat-and-chunk packer). Per language the readouts a packing
      // job reports: sequence count ⌈Σtc/2048⌉, the number of
      // documents SPLIT across a sequence boundary (each split is an
      // attention-fragmentation / loss-masking site — the quantity
      // that decides whether to pay for boundary-respecting packing),
      // and the tail sequence's fill rate in exact integer ppm (the
      // padding waste). The boundary census needs each doc's token
      // offset in its stream — ONE running-sum window per language
      // partition (the training-order contract already sorts by
      // doc_id), then one hash agg; all integer DIV/% on non-negative
      // operands, divergence-free cross-engine.
      val c = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("tc"))
        .withColumn("before", coalesce(
          sum(col("tc")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang")).orderBy(col("doc_id"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      c.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tc")).cast("long").as("nt"),
          sum(when(col("tc") > 0 &&
              expr("before DIV 2048") =!= expr("(before + tc - 1) DIV 2048"),
            1L).otherwise(0L)).as("n_split_docs"))
        .select(col("lang"), col("n_docs"), col("nt").as("n_toks"),
          expr("(nt + 2047) DIV 2048").as("n_seqs"),
          col("n_split_docs"),
          expr("CASE WHEN nt = 0 THEN 0 WHEN nt % 2048 = 0 THEN 1000000 " +
            "ELSE (nt % 2048) * 1000000 DIV 2048 END").as("tail_fill_ppm"))
        .orderBy("lang")
    }),
    "q_mix_temperature" -> ((s, d) => {
      // temperature-scaled language sampling (α = 0.7, the mT5/XLM-R
      // rule): sampling share q_i ∝ p_i^α flattens the head languages
      // and boosts the tail. The transcendental pow crosses engines at
      // 6dp-rounded terms (q_text_lmscore's ln precedent); the
      // normalizer sums those DECIMAL terms exactly, so the final
      // division divides identical doubles. One hash agg over the
      // corpus; the window runs on the 5-row language table.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      t(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("p", col("n_docs") / sum(col("n_docs")).over(w))
        .withColumn("q0", round(pow(col("p"), lit(0.7)), 6).cast("decimal(18,6)"))
        .select(col("lang"), col("n_docs"), round(col("p"), 4).as("p"),
          round(col("q0").cast("double") /
            sum(col("q0")).over(w).cast("double"), 4).as("rate"))
        .orderBy("lang")
    }),
    "q_text_jsd" -> ((s, d) => {
      // pairwise Jensen-Shannon divergence between SOURCE token
      // distributions — the symmetric, bounded (≤ ln 2) corpus-
      // comparison matrix that q_mix_kl's one-vs-corpus readout
      // can't give: which crawls/dumps are near-duplicates of each
      // other at the distribution level (dedup between SOURCES, not
      // documents). Terms are the q_mix_kl recipe with the mixture
      // denominator cross-multiplied into an exact integer ratio
      // inside the ln — 2·ca·nb / (ca·nb + cb·na) — so the only
      // floats are one ratio + one ln per (pair, token), rounded
      // term-local at 8 into decimal sums; no final division at all
      // (the ½ scaling is exact binary). Shape: one token-count agg;
      // the (source-pair × vocab) grid is vocab-linear with the tiny
      // pair table broadcast; one-sided tokens kept via left joins.
      val tok = t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .localCheckpoint(true) // count agg + vocab + totals
      val tc = tok.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // probed once per pair side
      val ns = tok.groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = ns.select(col("source").as("sa"), col("n").as("na"))
        .crossJoin(ns.select(col("source").as("sb"), col("n").as("nb")))
        .where(col("sa") < col("sb"))
      val grid = tok.select("tok").distinct().crossJoin(broadcast(pairs))
        .join(tc.select(col("source").as("sa"), col("tok"), col("c").as("ca")),
          Seq("sa", "tok"), "left")
        .join(tc.select(col("source").as("sb"), col("tok"), col("c").as("cb")),
          Seq("sb", "tok"), "left")
        .select(col("sa"), col("sb"), col("na"), col("nb"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
        .where(col("ca") + col("cb") > 0)
      grid.select(col("sa"), col("sb"), col("na"), col("nb"),
          when(col("ca") > 0,
            round((col("ca").cast("double") / col("na")) *
              log(lit(2.0) * col("ca") * col("nb") /
                (col("ca") * col("nb") + col("cb") * col("na"))), 8))
            .otherwise(lit(0.0)).cast("decimal(38,18)").as("ta"),
          when(col("cb") > 0,
            round((col("cb").cast("double") / col("nb")) *
              log(lit(2.0) * col("cb") * col("na") /
                (col("cb") * col("na") + col("ca") * col("nb"))), 8))
            .otherwise(lit(0.0)).cast("decimal(38,18)").as("tb"))
        .groupBy("sa", "sb")
        .agg(max(col("na")).cast("long").as("n_a"),
          max(col("nb")).cast("long").as("n_b"),
          round(lit(0.5) * (sum(col("ta")) + sum(col("tb"))).cast("double"), 4)
            .as("jsd"))
        .orderBy("sa", "sb")
    }),
    "q_mix_kl" -> ((s, d) => {
      // distribution-shift measurement for mixture design: KL
      // divergence of each language's token distribution from the
      // corpus distribution — the quantitative "how different is this
      // domain" input to reweighting (the mix_weights/temperature
      // family's missing diagnostic). Per-token terms round(8) then
      // decimal-sum, so the double ln/ratio arithmetic is term-local
      // and the per-lang total is accumulation-order independent (the
      // lmscore pattern). Two hash aggs + one token-keyed join; the
      // per-lang totals broadcast.
      val tok = t(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .localCheckpoint(true) // feeds both count aggs and the probe
      val cl = tok.groupBy("lang", "tok").agg(count(lit(1)).as("cl"))
      val cg = tok.groupBy("tok").agg(count(lit(1)).as("cg"))
      val nl = tok.groupBy("lang").agg(count(lit(1)).as("nl"))
      val ng = tok.agg(count(lit(1)).as("ng"))
      cl.join(cg, "tok").join(broadcast(nl), "lang").crossJoin(broadcast(ng))
        .select(col("lang"), col("nl"),
          round((col("cl").cast("double") / col("nl")) *
            log((col("cl").cast("double") / col("nl")) /
                (col("cg").cast("double") / col("ng"))), 8).as("term"))
        .groupBy("lang")
        .agg(max(col("nl")).cast("long").as("n_toks"),
          round(sum(col("term").cast("decimal(38,18)")).cast("double"), 4).as("kl"))
        .orderBy("lang")
    }),
    "q_mix_doremi" -> ((s, d) => {
      // DoReMi-style one-step domain reweighting (Xie et al. 2023,
      // arXiv:2305.10429): per-domain EXCESS LOSS — the domain's mean
      // unigram-LM NLL minus the corpus mean, the "hardest domains"
      // proxy — drives one exponentiated-gradient update from uniform
      // weights, then the paper's uniform smoothing (1-c)·ŵ + c/K
      // with c = 0.1. Float discipline: per-token NLL terms are
      // rounded then decimal-summed (the lmscore pattern); domain and
      // corpus means divide exact decimal sums; excess is rounded
      // before exp and the exp output rounded before the normalizing
      // decimal sum — every accumulation order-free, transcendental
      // outputs pinned by round() on both engines. At 100 TB: two
      // token hash aggs + one broadcast frequency join; the update
      // itself is K domain rows of arithmetic.
      val tok = t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .localCheckpoint(true) // feeds the frequency build AND the probe
      val freq = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = freq.agg(sum(col("cnt")).cast("double").as("n"))
      val dom = tok.join(freq, "tok").crossJoin(broadcast(tot))
        .select(col("source"), round(-log(col("cnt") / col("n")), 6).as("nll"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_toks"),
          sum(col("nll").cast("decimal(38,18)")).as("snll"))
        .localCheckpoint(true) // K rows; feeds the corpus scalar + the update
      val all = dom.agg(
        (sum(col("snll")).cast("double") / sum(col("n_toks")).cast("double"))
          .as("m_all"),
        count(lit(1)).cast("double").as("kd"))
      val ew = dom.crossJoin(broadcast(all))
        .select(col("source"), col("n_toks"), col("kd"),
          round(greatest(col("snll").cast("double") / col("n_toks") - col("m_all"),
            lit(0.0)), 6).as("excess"))
        .withColumn("ew", round(exp(col("excess")), 6))
        .localCheckpoint(true) // K rows; feeds the Z scalar + the output
      val z = ew.agg(sum(col("ew").cast("decimal(38,18)")).cast("double").as("z"))
      ew.crossJoin(broadcast(z))
        .select(col("source"), col("n_toks"), col("excess"),
          round(lit(0.9) * col("ew") / col("z") + lit(0.1) / col("kd"), 4).as("weight"))
        .orderBy("source")
    }),
    "q_sample_dsir" -> ((s, d) => {
      // DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
      // score each document by how target-like its hashed-n-gram
      // distribution is — importance weight w(doc) =
      // Σ_tokens ln(p_target(b) / p_raw(b)) over B=64 md5-hashed
      // unigram buckets, Laplace-smoothed; the target is the
      // fixture's lang='en' slice (the high-quality-corpus stand-in).
      // Float discipline: the ≤64 per-bucket log-ratios are computed
      // once, rounded TERM-LOCAL (the q_mix_kl/lmscore pattern), and
      // each doc's weight is a decimal sum of its tokens' terms —
      // accumulation-order independent, so the top-k is stable on any
      // partitioning. At 100 TB: two hash aggs build the 64-row ratio
      // table, then one broadcast join + per-doc agg; top-k compiles
      // to TakeOrdered, never a global sort.
      val tok = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
        .withColumn("b",
          (conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") % 64).cast("int"))
        .localCheckpoint(true) // feeds the two count aggs + the probe join
      val tgt = tok.where(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
      val src = tok.groupBy("b").agg(count(lit(1)).as("cs"))
      val nt = tok.where(col("lang") === "en").agg(count(lit(1)).cast("double").as("n_t"))
      val ns = tok.agg(count(lit(1)).cast("double").as("n_s"))
      val ratio = src.join(tgt, Seq("b"), "left_outer")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(ns))
        .select(col("b"),
          round(log(((coalesce(col("ct"), lit(0L)) + lit(1)).cast("double") / (col("n_t") + 64)) /
                    ((col("cs") + lit(1)).cast("double") / (col("n_s") + 64))), 8).as("lr"))
      tok.join(broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          round(sum(col("lr").cast("decimal(38,18)")).cast("double"), 4).as("w"))
        .orderBy(col("w").desc, col("doc_id"))
        .limit(50)
    }),
    "q_embed_classify_cal" -> ((s, d) => {
      // classifier CALIBRATION readout (reliability diagram) — the
      // measurement entry for the q_embed_classify family, like
      // langid_acc / minhash_acc / embed_recall for theirs: bin the
      // logit axis (width 0.25), report per-bin volume, ground-truth
      // positives (label == the weight vector's own label) and the
      // observed positive rate — predicted-confidence vs actual, the
      // standard quality-filter audit. Integer-exact except the
      // closing rate division; bin edges are exact binary fractions
      // so floor() agrees across engines.
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      val wv = e.where(col("vec_id") === 1)
        .select(col("v").as("w"), col("label").as("lt"))
      e.where(col("vec_id") =!= 1).crossJoin(broadcast(wv))
        .select((col("label") === col("lt")).as("pos"),
          floor(round(expr("dot_fold(v, w)"), 6) / 0.25).cast("long").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).cast("long").as("n_pos"))
        .select(col("bin"), round(col("bin") * 0.25, 2).as("lo"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 4).as("pos_rate"))
        .orderBy("bin")
    }),
    "q_mix_weights" -> ((s, d) => {
      // domain-mixture reweighting: per-source multiplier that turns
      // the observed source distribution into a uniform target mix
      // (weight = target_share / actual_share). One hash aggregation
      // over the corpus; the window runs on the post-agg table whose
      // row count is the source cardinality, not the corpus
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .withColumn("weight",
          round(sum(col("n_docs")).over(w) /
            (count(lit(1)).over(w) * col("n_docs")), 4))
        .orderBy("source")
    }),
    "q_text_decontaminate" -> ((s, d) => {
      // benchmark decontamination: an "eval set" (docs whose
      // md5(doc_id) starts with '0', ≈1/16 of the corpus — stands in
      // for a held-out benchmark) must not leak into training data.
      // A train doc is contaminated if it shares any token 3-gram
      // with any eval doc. The eval shingle set is tiny relative to
      // the corpus — exactly the real-world shape — so it broadcasts
      // and the train side probes it with AQE picking the strategy
      // (broadcast while the eval set is small); the only shuffle of
      // the 100 TB side past that is the per-doc hit count agg
      val docs = t(s, d, "documents")
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      // NOT broadcast-hinted (r15): the eval shingle set is O(corpus)
      // — ~60k types at sf0.1 but ~6M at sf10 — so a forced broadcast
      // silently breaks the "small dim" premise as data grows; AQE's
      // stats-based choice broadcasts while it is genuinely small and
      // shuffles past that (measured: equal at sf0.1, −11% at sf10,
      // result-identical — CurationScaleProbe)
      val evalG =
        Dedup.shingleRows(docs.where(isEval), 3).select("g").distinct()
      Dedup.shingleRows(docs.where(!isEval), 3).distinct()
        .join(evalG, "g")
        .groupBy("doc_id")
        // (doc_id, g) rows are unique post-distinct and the probe side
        // is a distinct key set, so count(*) == countDistinct(g) —
        // without paying a second dedup aggregation on the train side
        .agg(count(lit(1)).as("hits"))
        .orderBy("doc_id")
    }),
    "q_text_bigrams" -> ((s, d) => {
      // top-3 word bigrams per language (collocation mining); bigram
      // rows come from the exploded shingle path (codegen), not HOFs
      val docs = t(s, d, "documents")
      val counts = Dedup.shingleRows(docs, 2)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("cnt").desc, col("g"))
      counts.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("lang"), col("g"), col("cnt"), col("rk"))
        .orderBy("lang", "rk")
    }),
    "q_regex_clean" -> ((s, d) => {
      // corpus-cleaning regex family: digit masking, whitespace
      // collapse, long-word extraction (all codegen'd string exprs)
      t(s, d, "documents").select(col("doc_id"),
          length(regexp_replace(col("text"), "[0-9]+", "#")).as("len_masked"),
          length(regexp_replace(col("text"), "\\s+", " ")).as("len_ws"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]{4,}"), lit(0))).as("n_longwords"))
        .orderBy("doc_id")
    }),
    "q_dedup_editdist" -> ((s, d) => {
      // edit-distance near-dup: MinHash-LSH band candidates rescored
      // with thresholded levenshtein (banded DP returns -1 past 21, so
      // per-pair cost is O(k·n), not O(n²)). LSH candidate counts track
      // true near-dup density, not corpus size — a (lang, length-band)
      // bucket join was measured to blow up quadratically at 10x scale
      // (tools/Stress), this formulation survives it.
      val docs = t(s, d, "documents")
      val cand = docCandidates(s, d)
      val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("tb"))
      cand.join(ta, "doc_a").join(tb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          // equality short-circuit before the DP: near-dup candidate
          // sets are dominated by EXACT dups (that's what makes them
          // candidates), and a memcmp is ~10x cheaper than even the
          // banded DP on equal strings (measured 129 s -> 12.5 s on
          // the 10x stress corpus, where 90% of pairs are clones)
          when(col("ta") === col("tb"), lit(0))
            .otherwise(levenshtein(col("ta"), col("tb"), 21)).as("dist"))
        .where(col("dist").between(0, 20))
        .orderBy("doc_a", "doc_b")
    }),
    "q_events_retention" -> ((s, d) => {
      // cohort retention: users first seen on day D who return exactly
      // 1/7 days later (day-granular; classic growth analytics)
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val first = ev.groupBy("user_id").agg(min(col("day")).as("d0"))
      val joined = ev.join(first, "user_id")
        .select(col("user_id"), col("d0"), datediff(col("day"), col("d0")).as("age"))
      joined.groupBy(date_format(col("d0"), "yyyy-MM-dd").as("cohort"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("age") === 1, col("user_id"))).as("d1"),
          countDistinct(when(col("age") === 7, col("user_id"))).as("d7"))
        .orderBy("cohort")
    }),
    "q_embed_kmeans" -> ((s, d) => {
      // One Lloyd iteration of k-means (k=4, seeds = vec_ids 1-4) with
      // an EXACT oracle — the centroid-training step a real IVF index
      // needs. Determinism strategy: initial distances are ordered
      // zip_with folds (bit-identical to DuckDB list_reduce); centroid
      // updates sum 6dp-decimal-cast components (exact, order-free);
      // re-assignment re-assembles the centroids into arrays and
      // scores with the same ordered fold as d0. Every accumulation is
      // order-independent or order-fixed, so the argmins match
      // bit-for-bit. Scale: centroids broadcast; updates are one
      // partial+final hash agg keyed (cid, idx).
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents0 = e.where(col("vec_id").between(1, 4))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      // native l2sq_fold: same index-ascending fold as the HOF
      // aggregate(zip_with(...)) (and DuckDB's list_reduce), but
      // codegen'd — HOF lambdas evaluate interpreted per element
      val d0 = e.crossJoin(broadcast(cents0))
        .select(col("vec_id"), col("cid"), expr("l2sq_fold(v, cv)").as("dist"))
      // argmin as min-of-(dist, cid) struct: ONE partial+final hash agg
      // per assignment instead of a window sort; lexicographic struct
      // comparison tie-breaks on cid identically in both engines
      def argmin(df: DataFrame): DataFrame = df.groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
      val a1 = argmin(d0)
      val pts = e.join(a1, "vec_id")
        .select(col("cid"), posexplode(col("v"))).toDF("cid", "idx", "x")
      val upd = pts.groupBy("cid", "idx")
        .agg((sum(col("x").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("c"))
      // re-assemble the 4 updated centroids into ARRAYS (tiny agg:
      // 4 x 64 rows -> 4 rows) and score like d0: broadcast cross join
      // + ordered zip_with fold (bit-identical to DuckDB's
      // list_reduce, deterministic because the fold order is the
      // element order). The previous form joined every exploded
      // (vec_id, idx) point row with the centroid components — an
      // n x 64 x k row shuffle through a decimal aggregation, ~1s of
      // the bench at sf0.1 for no parity benefit.
      val updArr = upd.groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("idx"), col("c")))),
          p => p.getField("c")).as("cv"))
      val d1 = e.crossJoin(broadcast(updArr))
        .select(col("vec_id"), col("cid"), expr("l2sq_fold(v, cv)").as("dist"))
      val a2 = argmin(d1)
      a2.groupBy("cid")
        .agg(count(lit(1)).as("sz"), min(col("vec_id")).as("min_vec"))
        .orderBy("cid")
    }),
    "q_embed_purity" -> ((s, d) => {
      // clustering-quality readout (the measurement entry for the
      // k-means family, completing the accuracy trio with
      // q_dedup_minhash_acc and q_text_langid_acc): the one-Lloyd-
      // iteration assignment scored against the embeddings fixture's
      // ground-truth labels — per-cluster majority label + overall
      // PURITY, an integer ratio so the whole readout is exact. The
      // assignment chain is q_embed_kmeans's verified derivation
      // verbatim; the purity fold is a 4-row window.
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents0 = e.where(col("vec_id").between(1, 4))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val d0 = e.crossJoin(broadcast(cents0))
        .select(col("vec_id"), col("cid"), expr("l2sq_fold(v, cv)").as("dist"))
      def argmin(df: DataFrame): DataFrame = df.groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
      val a1 = argmin(d0)
      val pts = e.join(a1, "vec_id")
        .select(col("cid"), posexplode(col("v"))).toDF("cid", "idx", "x")
      val upd = pts.groupBy("cid", "idx")
        .agg((sum(col("x").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("c"))
      val updArr = upd.groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("idx"), col("c")))),
          p => p.getField("c")).as("cv"))
      val d1 = e.crossJoin(broadcast(updArr))
        .select(col("vec_id"), col("cid"), expr("l2sq_fold(v, cv)").as("dist"))
      val a2 = argmin(d1)
      val lab = t(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("int").as("label"))
      val perLabel = a2.join(lab, "vec_id")
        .groupBy("cid", "label").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)) // 4 cluster rows — the global fold is tiny
      perLabel.groupBy("cid")
        .agg(sum(col("n")).as("sz"),
          min(struct((-col("n")).as("negn"), col("label").as("l"))).as("m"))
        .select(col("cid"), col("sz").cast("long").as("sz"),
          col("m.l").as("maj_label"), (-col("m.negn")).cast("long").as("n_maj"))
        .withColumn("purity",
          round(sum(col("n_maj")).over(w).cast("double") /
            sum(col("sz")).over(w), 4))
        .orderBy("cid")
    }),
    "q_multimodal_resize" -> ((s, d) => {
      // typed-Dataset resize path end-to-end in the gate: per-doc
      // before/after byte counts + md5 of the resized payload (the
      // bytes are ASCII here, so DuckDB reproduces the digest from the
      // reconstructed every-4th-char string)
      Multimodal.resize(t(s, d, "documents"), factor = 4)
        .select(col("doc_id"), col("orig_bytes"), col("resized_bytes"),
          md5(col("payload")).as("h"))
        .orderBy("doc_id")
    }),
    "q_multimodal_frames" -> ((s, d) => {
      // video-keyframe-sampling shape in the gate: the binary payload is
      // cut into fixed 32-byte frames, every 4th is emitted
      // (mapPartitions over Tungsten binary, no driver collect); the
      // oracle mirrors the byte math on the ASCII text column
      Multimodal.sampleFrames(t(s, d, "documents"), frameBytes = 32, stride = 4)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("offset"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }),
    "q_range_join" -> ((s, d) => {
      // banded range join: events of the same user in the same 5-min
      // band (the scalable band-join formulation — equi-join keys,
      // no unbounded range explosion)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          floor(floor(col("ts").cast("double")) / 300).as("band"),
          floor(col("ts").cast("double")).as("sec"))
      val a = ev.select(col("event_id").as("ea"), col("user_id"), col("band"), col("sec").as("sa"))
      val b = ev.select(col("event_id").as("eb"), col("user_id"), col("band"), col("sec").as("sb"))
      a.join(b, Seq("user_id", "band")).where(col("ea") < col("eb"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(abs(col("sb") - col("sa"))), 2).as("avg_gap"))
        .orderBy("user_id")
    }),
    // -- similarity search ------------------------------------------------
    "q_embed_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      Similarity.bruteForceTopK(e.where(col("vec_id") =!= 0), q, 20)
    }),
    "q_embed_lsh" -> ((s, d) => {
      // random-hyperplane LSH bucketing (SimHash for embeddings):
      // 8 md5-derived ±1 planes -> 8-bit bucket per vector; output the
      // bucket histogram. The scale path for cosine near-dup candidate
      // generation — candidates come from equi-joining on bucket.
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      graft.operators.Similarity.lshBuckets(e, planes = 8, dims = 64)
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), min(col("vec_id")).as("min_vec"))
        .orderBy("bucket")
    }),
    "q_embed_knn_join" -> ((s, d) => {
      // batch k-NN: every label-0 vector is a query against the corpus
      val e = t(s, d, "embeddings").select(col("vec_id"), col("label"),
        toDouble(col("embedding")).as("v"))
      val queries = e.where(col("label") === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      Similarity.knnJoin(e.select(col("vec_id"), col("v")), queries, k = 5)
        .orderBy("qid", "rk")
    }),
    "q_embed_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      Similarity.ivfTopK(Similarity.assignCells(e, cents), 0L, 10)
    }),
    "q_embed_ivf_2level" -> ((s, d) => {
      // TWO-LEVEL (coarse → fine) IVF — the documented path past
      // Similarity.autoCellCount's 4096-cell broadcast cap, as a gate
      // entry instead of prose: a FLAT k-cell index needs a k-row
      // centroid broadcast and n·k assignment work, so k stops
      // scaling once the centroid table stops being broadcast-sized;
      // splitting into k1 coarse × k2 fine cells keeps every
      // broadcast tiny (k1 rows, then k1·k2 rows) and assignment at
      // n·(k1 + k2) — the IMI/residual-IVF layout FAISS ships for
      // billion-vector corpora. Fixture geometry k1 = k2 = 4 (16
      // leaf cells, same order as the flat entries' 8). Coarse
      // centroids are vec_ids 1..4; fine centroids per coarse cell
      // are its 4 lowest-vec_id members (deterministic, re-derivable
      // in SQL). The probe descends: query vec 0's coarse cell →
      // its fine cell → exact top-10 cosine inside that one leaf.
      // Every stage is an equi-join on (cid) or (cid, fid) after a
      // broadcast-scalar descent — no stage ever touches more than
      // one leaf's rows.
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings").select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val coarse = e.where(col("vec_id").between(1, 4))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val a1 = Similarity.assignCells(e, coarse).localCheckpoint(true)
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("vec_id"))
      val fine = a1.withColumn("rk", row_number().over(wf)).where(col("rk") <= 4)
        .select(col("cid"), col("vec_id").as("fid"), col("v").as("fv"))
      val wa = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist"), col("fid"))
      val a2 = a1.join(broadcast(fine), "cid")
        .withColumn("dist", expr("l2sq_fold(v, fv)"))
        .withColumn("rk", row_number().over(wa)).where(col("rk") === 1)
        .select(col("vec_id"), col("v"), col("cid"), col("fid"))
      val q0 = a2.where(col("vec_id") === 0)
        .select(col("cid").as("qcid"), col("fid").as("qfid"), col("v").as("qv"))
      a2.join(broadcast(q0),
          col("cid") === col("qcid") && col("fid") === col("qfid"))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(expr("cosine_sim(v, qv)"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
    }),
    "q_embed_ivf_2level_auto" -> ((s, d) => {
      // the two-level IVF with its geometry AUTO-SIZED from corpus
      // stats (r16 verdict item 5 — the autoPlanesPerBand playbook
      // applied to the one layout that exists for the past-the-cap
      // regime): leaf cells = ⌈n/500⌉ (clamped [16, 2²⁴]) bounds
      // expected leaf population like the flat autoCellCount rule,
      // and the fanout splits square-root-wise — k1 = k2 = smallest
      // power of two with k1² ≥ leaves (Similarity.autoTwoLevelFanout,
      // integer-exact, oracle-re-derived from count(*); the chosen k1
      // rides on every output row). Reproduces the fixed sibling's
      // 4×4 at every fixture SF (spec-pinned identity) and picks
      // k1 = 32 (1024 leaves, ~195 vectors each) at sf10's 200 k.
      // Same descent as the fixed entry, two scale-honest deltas:
      // the fine table is k1² rows keyed by cid, so its assignment
      // join carries NO broadcast hint — AQE broadcasts it while
      // small and falls back to a cid-keyed shuffle past the cap
      // (each vector still meets exactly its cell's k2 rows either
      // way); the n·(k1+k2) assignment work replaces the flat n·k.
      graft.functions.expressions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val k1 = Similarity.autoTwoLevelFanout(emb.count())
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val coarse = e.where(col("vec_id").between(1, k1))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val a1 = Similarity.assignCells(e, coarse).localCheckpoint(true)
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("vec_id"))
      val fine = a1.withColumn("rk", row_number().over(wf)).where(col("rk") <= k1)
        .select(col("cid"), col("vec_id").as("fid"), col("v").as("fv"))
      val wa = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist"), col("fid"))
      val a2 = a1.join(fine, "cid")
        .withColumn("dist", expr("l2sq_fold(v, fv)"))
        .withColumn("rk", row_number().over(wa)).where(col("rk") === 1)
        .select(col("vec_id"), col("v"), col("cid"), col("fid"))
      val q0 = a2.where(col("vec_id") === 0)
        .select(col("cid").as("qcid"), col("fid").as("qfid"), col("v").as("qv"))
      a2.join(broadcast(q0),
          col("cid") === col("qcid") && col("fid") === col("qfid"))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(expr("cosine_sim(v, qv)"), 4).as("score"),
          lit(k1).as("k1"))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
    }),
    "q_embed_nsw" -> ((s, d) => {
      // GRAPH-routed ANN (the NSW / DiskANN paradigm — the third
      // index family next to the hash rungs (LSH/SimHash/binary) and
      // the partition rungs (IVF/PQ/2-level) the gate already
      // carries): search walks a PROXIMITY GRAPH greedily toward the
      // query instead of probing buckets. The build is cell-bounded
      // (pair-work ~n·5·targetCell, linear, never all-pairs), and —
      // r18 verdict item 1 — the graph is now NAVIGABLE, not just
      // proximate: 12 nearest in-cell neighbours PLUS in-cell skip
      // edges at ranks 16/64/256 (Vamana-style, crossing the cell
      // diameter in O(log) hops) PLUS each vector's nearest member
      // of 4 hash-designated foreign cells (Kleinberg long links —
      // deterministic escape hatches, so a walk is no longer trapped
      // in its entry cells; see nswGraph — the r20 (12,4) re-pin,
      // measured recall@1 0.50 → 0.625 at sf10). `cells` rides on
      // every row, oracle-re-derived from count(*). Probe = the
      // canonical greedy route: start at the deterministic entry
      // vertex (vec_id 1) and for 4 fixed hops move to the
      // best-cosine vertex among {current} ∪ neighbours(current) —
      // monotone by construction (current stays in its own candidate
      // set), so the output trace is a deterministic improving path:
      // the routed-search certificate. Per hop the driver touches
      // ≤ 19 neighbour ids (graph max degree — metadata-scale
      // collects, the coreset/ivf_append 1-row precedent); every
      // per-hop scoring job is a ≤ 20-id pushed-filter scan.
      graft.functions.expressions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val k = Similarity.autoCellCount(emb.count())
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .localCheckpoint(true) // probed once per hop
      // the proximity graph is an INDEX artifact: session-staged keyed
      // on the corpus fingerprint (the ivf_indexed / ivm_base
      // convention — bench reps time the ROUTE, not the per-fixture
      // build; r17 ADVICE), and built over corpus vectors only —
      // vec_id 0 is the query, keeping it routable would let the walk
      // terminate on the query itself, self-retrieval (r17 ADVICE)
      val g = nswGraph(s, d, k)
      val q0 = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      def best(cands: Seq[Long]): (Long, Double) = {
        val row = e.where(col("vec_id").isin(cands: _*))
          .crossJoin(broadcast(q0))
          .select(col("vec_id"), expr("cosine_sim(v, qv)").as("sc"))
          .orderBy(col("sc").desc, col("vec_id")).limit(1).head()
        (row.getLong(0), row.getDouble(1))
      }
      var cur = best(Seq(1L))
      val trace = scala.collection.mutable.ArrayBuffer((0, cur._1, cur._2))
      // r21: two hops per round-trip off the 2-hop ball (the
      // nswBeamTrace shape): one ball fetch + one scoring job serve
      // hops 2p−1 and 2p; the greedy argmax runs on the driver under
      // the identical (sc desc NaN-first, vec_id asc) order, so the
      // trace is bit-identical to the one-job-per-hop walk
      (1 to 2).foreach { pair =>
        val adj = twoHopBall(g, Seq(cur._1))
        val ids = (cur._1 +: (adj.keys ++ adj.values.flatten).toSeq).distinct
        val sc = e.where(col("vec_id").isin(ids: _*))
          .crossJoin(broadcast(q0))
          .select(col("vec_id"), expr("cosine_sim(v, qv)").as("sc"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        def best1(cands: Seq[Long]): (Long, Double) =
          cands.distinct.map(v => (v, sc(v))).reduceLeft { (a, b) =>
            val c = java.lang.Double.compare(b._2, a._2)
            if (c < 0 || (c == 0 && a._1 < b._1)) a else b
          }
        (0 to 1).foreach { h =>
          cur = best1(adj.getOrElse(cur._1, Seq.empty) :+ cur._1)
          trace += ((2 * pair - 1 + h, cur._1, cur._2))
        }
      }
      import s.implicits._
      trace.toSeq.toDF("hop0", "vertex0", "score0")
        .select(col("hop0").cast("int").as("hop"),
          col("vertex0").as("vertex"),
          round(col("score0"), 4).as("score"),
          lit(k).as("cells"))
        .orderBy("hop")
    }),
    "q_embed_nsw_beam" -> ((s, d) => {
      // the PRODUCTION configuration of the routed search (r17
      // verdict item 3; graph made NAVIGABLE in r19 — skip +
      // cross-cell long edges, see nswGraph): enter at EVERY cell
      // centroid (the IVF spine — entry breadth was the r18
      // topology's dominant lever and stays the strongest single
      // knob; NswProbe r19 table in BASELINE.md re-prices all three
      // levers on the navigable graph), then BEAM-8 over 8 hops —
      // the measured-best balanced config (NswProbe r19/r20:
      // recall@1 0.625 / score ratio 0.95 of exact at sf10 on the
      // r20 (12,4) graph, up from 0.50/0.91 on the r19 (5,2) graph
      // and 0 / 0.51 on the r18 cell-bounded one; hops saturate at
      // 8, beam 16 buys +1/32 for 2x frontier cost, and topology
      // saturates at (12,4) — (16,6) measures identical). Per hop
      // the best-8 of {frontier} ∪ neighbours(frontier) survive — 8
      // descents a local optimum must trap simultaneously, with the
      // skip/cross-cell edges providing the escape moves the r18
      // 5-NN-only graph lacked. Same staged proximity graph,
      // metadata-scale per-hop collects (≤ 8·19 neighbour ids after
      // the entry hop), every scoring job a pushed-filter scan
      // (≤ k + 160 ids); the hop-by-hop frontier is the output — the
      // beam certificate.
      val (trace, k) = nswBeamTrace(s, d)
      import s.implicits._
      trace.toDF("hop0", "rk0", "vertex0", "score0")
        .select(col("hop0").cast("int").as("hop"),
          col("rk0").cast("int").as("rk"),
          col("vertex0").as("vertex"),
          round(col("score0"), 4).as("score"),
          lit(k).as("cells"))
        .orderBy("hop", "rk")
    }),
    "q_embed_nsw_recall" -> ((s, d) => {
      // the routed family's accuracy readout IN-GATE (r19 — the
      // one-measurement-per-approximate-family convention:
      // q_embed_recall, q_embed_binary_recall, q_dedup_minhash_acc,
      // q_hybrid_ndcg): recall@8 of the beam walk's FINAL frontier
      // against the exact rounded-cosine top-8, plus the endpoint
      // ratio (best routed cosine / best exact cosine). NswProbe
      // prices the config grid at derived scales; this entry keeps
      // the pinned config's number under the oracle gate at every
      // fixture SF. Exactness: hits/8 is dyadic-exact; routed/exact
      // bests are round(4) BEFORE the ratio division, so the ratio
      // divides identical doubles in both engines, round(6).
      val (trace, k) = nswBeamTrace(s, d)
      val maxHop = trace.map(_._1).max
      val fin = trace.filter(_._1 == maxHop)
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val routedBest = r4(fin.minBy(_._2)._4)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val q0 = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val exact8 = e.where(col("vec_id") =!= 0).crossJoin(broadcast(q0))
        .select(col("vec_id"), round(expr("cosine_sim(v, qv)"), 4).as("sc"))
        .orderBy(col("sc").desc, col("vec_id")).limit(8).collect()
      val exactBest = exact8.head.getDouble(1)
      // r19 ADVICE: an exact-best that rounds to 0 (or negative-
      // degenerate data) would make the ratio division NaN/Inf and
      // BigDecimal would throw an opaque NumberFormatException while
      // the DuckDB oracle emitted inf/nan — fail loudly and
      // consistently instead (the fixture's top cosine is well
      // above 0 at every SF; this names the contract).
      require(exactBest > 0.0,
        s"q_embed_nsw_recall: exact top cosine rounds to $exactBest <= 0 — " +
          "the routed/exact ratio is undefined on this corpus")
      val exactIds = exact8.map(_.getLong(0)).toSet
      val hits = fin.map(_._3).count(exactIds)
      import s.implicits._
      Seq((k, hits.toLong, hits / 8.0, routedBest, exactBest,
          BigDecimal(routedBest / exactBest)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("cells", "hits", "recall_at_8", "routed_best",
          "exact_best", "ratio")
    }),
    "q_embed_nsw_batch" -> ((s, d) => {
      // MULTI-QUERY routed serving (r19) — the amortization a real
      // ANN service lives on: a BATCH of queries routes
      // simultaneously, ONE neighbour fetch and ONE scoring job per
      // hop covering every query's candidates, instead of per-query
      // walks (the NswProbe measurement shape promoted to a gate
      // entry). Queries = the 4 lowest corpus ids ≡ 5 (mod 10)
      // (deterministic, oracle-re-derived); each walk excludes its
      // own query vertex (no self-retrieval), beam 4, 8 hops over
      // the shared navigable graph. Driver touches metadata-scale
      // rows only: ≤ 4·4·19 neighbour ids and ≤ 4·(k + 80)-row
      // scored batches per hop; every scoring job is one
      // pushed-filter scan of the candidate ids crossed with the 4
      // broadcast query vectors. Output = each query's final
      // frontier — the batch-serving certificate.
      graft.functions.expressions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val k = Similarity.autoCellCount(emb.count())
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .localCheckpoint(true) // probed once per hop
      val g = nswGraph(s, d, k)
      val qs = e.where(col("vec_id") =!= 0 && col("vec_id") % 10 === 5)
        .orderBy("vec_id").limit(4)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
        .localCheckpoint(true) // joined once per hop
      // score (qid, vertex) pairs for the given per-query candidate
      // sets in ONE job; returns each query's beam-4 frontier
      def topB(cand: Map[Long, Seq[Long]]): Map[Long, Seq[(Long, Double)]] = {
        val ids = cand.values.flatten.toSeq.distinct
        val scored = e.where(col("vec_id").isin(ids: _*))
          .crossJoin(broadcast(qs))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), expr("cosine_sim(v, qv)").as("sc"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        scored.groupBy(_._1).map { case (qid, rows) =>
          val mine = cand(qid).toSet
          qid -> rows.filter(r => mine(r._2)).sortBy(r => (-r._3, r._2))
            .take(4).map(r => (r._2, r._3)).toSeq
        }
      }
      val qids = qs.select("qid").collect().map(_.getLong(0)).toSeq
      val entry = (1L to k.toLong)
      var frontier = topB(qids.map(q => q -> entry).toMap)
      // r21: two hops per round-trip off the shared 2-hop ball (the
      // nswBeamTrace shape) — one ball fetch + one (qid, vertex)
      // scoring job serve both hops; per-query beam-4 selection uses
      // the IDENTICAL driver comparator the per-hop topB applied, so
      // every frontier is bit-identical
      (1 to 4).foreach { _ =>
        val verts = frontier.values.flatten.map(_._1).toSeq.distinct
        val adj = twoHopBall(g, verts)
        val ids = (verts ++ adj.keys ++ adj.values.flatten).distinct
        val scored = e.where(col("vec_id").isin(ids: _*))
          .crossJoin(broadcast(qs))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), expr("cosine_sim(v, qv)").as("sc"))
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
        def step(fr: Map[Long, Seq[(Long, Double)]]): Map[Long, Seq[(Long, Double)]] =
          fr.map { case (qid, f) =>
            val cands = (f.map(_._1) ++
              f.map(_._1).flatMap(v => adj.getOrElse(v, Seq.empty))).distinct
            qid -> cands.filter(_ != qid)
              .map(v => (v, scored((qid, v))))
              .sortBy(r => (-r._2, r._1)).take(4)
          }
        frontier = step(step(frontier))
      }
      import s.implicits._
      frontier.toSeq.flatMap { case (qid, fr) =>
        fr.zipWithIndex.map { case ((vid, sc), i) => (qid, i + 1, vid, sc) }
      }.toDF("qid0", "rk0", "vertex0", "score0")
        .select(col("qid0").as("qid"), col("rk0").cast("int").as("rk"),
          col("vertex0").as("vertex"), round(col("score0"), 4).as("score"),
          lit(k).as("cells"))
        .orderBy("qid", "rk")
    }),
    "q_embed_ivf_balanced" -> ((s, d) => {
      // CAPACITY-BALANCED IVF assignment — the guarantee
      // autoCellCount's EXPECTED-population bound cannot give: under
      // skew a nearest-centroid assignment piles vectors into one
      // cell, and probe latency / straggler tasks are PER-CELL costs.
      // The balanced pass caps every cell at cap = ⌈n/k⌉ (the strict
      // balance point, so the spill path is exercised at every SF —
      // natural skew puts roughly half the cells over it): per cell,
      // members rank by the same fold-order L2 the assignment used
      // (vec_id tiebreak); ranks ≤ cap stay; the overflow spills to
      // each vector's SECOND-nearest centroid. One spill round —
      // spill-ins land uncapped, and the census prints first-choice /
      // spill-out / spill-in / balanced populations per cell against
      // the cap, so the residual skew is measured, not hidden (a
      // production store iterates the round or widens cap; the
      // one-round census is the decision input). Row-local
      // arithmetic + two bounded windows; k and cap oracle-re-derived
      // from count(*).
      graft.functions.expressions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val k = Similarity.autoCellCount(n)
      val cap = (n + k - 1) / k
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, k))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
      val ranked = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"), expr("l2sq_fold(v, cv)").as("dist"))
        .withColumn("crk", row_number().over(wv)).where(col("crk") <= 2)
        .localCheckpoint(true) // feeds first/second/rank — one n·k pass
      val first = ranked.where(col("crk") === 1)
      val second = ranked.where(col("crk") === 2)
        .select(col("vec_id"), col("cid").as("cid2"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("dist"), col("vec_id"))
      val r1 = first.withColumn("rk", row_number().over(wc))
      val stay = r1.where(col("rk") <= cap).select(col("vec_id"), col("cid"))
      val spill = r1.where(col("rk") > cap).select(col("vec_id"), col("cid"))
      val spillTo = spill.select(col("vec_id")).join(second, "vec_id")
        .select(col("vec_id"), col("cid2").as("cid"))
      val bal = stay.unionByName(spillTo)
      val n0 = first.groupBy("cid").agg(count(lit(1)).as("n_first"))
      val so = spill.groupBy("cid").agg(count(lit(1)).as("n_spill_out"))
      val si = spillTo.groupBy("cid").agg(count(lit(1)).as("n_spill_in"))
      val n1 = bal.groupBy("cid").agg(count(lit(1)).as("n_balanced"))
      cents.select("cid")
        .join(n0, Seq("cid"), "left").join(so, Seq("cid"), "left")
        .join(si, Seq("cid"), "left").join(n1, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("n_first"), lit(0L)).as("n_first"),
          coalesce(col("n_spill_out"), lit(0L)).as("n_spill_out"),
          coalesce(col("n_spill_in"), lit(0L)).as("n_spill_in"),
          coalesce(col("n_balanced"), lit(0L)).as("n_balanced"),
          lit(cap).as("cap"))
        .orderBy("cid")
    }),
    "q_embed_ivf_balanced_iter" -> ((s, d) => {
      // the CONVERGENT balanced assignment (r17 verdict item 5): the
      // one-round sibling's spill-ins land UNCAPPED, so a cell can
      // end over cap and the census only MEASURES the residual skew.
      // This entry enforces the cap exactly — cap-enforced
      // round-robin within the overflow, the verdict's named
      // mechanism: per-cell L2-rank ≤ cap stays (same rank as the
      // sibling); every overflow vector is zipped deterministically
      // (vec_id order) onto the global slack-slot list (cid, slot
      // order). cap·k ≥ n guarantees slots ≥ overflow, so ONE pass
      // yields max(n_balanced) ≤ cap — spec-pinned (Wave31), no
      // iteration-to-convergence question left open. Scale shape: the
      // two global zip windows run over the OVERFLOW and the SLACK
      // only (the skew excess, ≪ n — single-partition windows
      // bounded by skew, not corpus); everything else is the
      // sibling's n·k pass and per-cell windows. k and cap
      // oracle-re-derived from count(*).
      graft.functions.expressions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val k = Similarity.autoCellCount(n)
      val cap = (n + k - 1) / k
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, k))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
      val first = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"), expr("l2sq_fold(v, cv)").as("dist"))
        .withColumn("crk", row_number().over(wv)).where(col("crk") === 1)
        .localCheckpoint(true) // feeds rank + census — one n·k pass
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("dist"), col("vec_id"))
      val r1 = first.withColumn("rk", row_number().over(wc))
      val stay = r1.where(col("rk") <= cap).select(col("vec_id"), col("cid"))
      val spill = r1.where(col("rk") > cap).select(col("vec_id"), col("cid"))
      val nStay = cents.select("cid")
        .join(stay.groupBy("cid").agg(count(lit(1)).as("n_stay0")), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("n_stay0"), lit(0L)).as("n_stay"))
      val slots = nStay.where(col("n_stay") < cap)
        .select(col("cid"),
          explode(sequence(lit(1L), lit(cap) - col("n_stay"))).as("slot"))
      val ws = org.apache.spark.sql.expressions.Window.orderBy("cid", "slot")
      val slotIdx = slots.withColumn("idx", row_number().over(ws))
      val wo = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      val rrIn = spill.select("vec_id").withColumn("idx", row_number().over(wo))
        .join(slotIdx, "idx").select(col("vec_id"), col("cid"))
      val bal = stay.unionByName(rrIn)
      val n0 = first.groupBy("cid").agg(count(lit(1)).as("n_first"))
      val so = spill.groupBy("cid").agg(count(lit(1)).as("n_spill_out"))
      val ri = rrIn.groupBy("cid").agg(count(lit(1)).as("n_rr_in"))
      val n1 = bal.groupBy("cid").agg(count(lit(1)).as("n_balanced"))
      cents.select("cid")
        .join(n0, Seq("cid"), "left").join(so, Seq("cid"), "left")
        .join(ri, Seq("cid"), "left").join(n1, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("n_first"), lit(0L)).as("n_first"),
          coalesce(col("n_spill_out"), lit(0L)).as("n_spill_out"),
          coalesce(col("n_rr_in"), lit(0L)).as("n_rr_in"),
          coalesce(col("n_balanced"), lit(0L)).as("n_balanced"),
          lit(cap).as("cap"))
        .orderBy("cid")
    }),
    "q_spatial_join" -> ((s, d) => {
      // SPATIAL radius self-join via GRID bucketing — the geo/metric
      // join family (ST_DWithin / "points within r of each other")
      // rendered scale-first: cell size = radius, one side rides in
      // its home cell, the other explodes into its 3×3 cell
      // neighbourhood, so candidates are an EQUI-join on the cell key
      // — every true pair at distance ≤ r spans at most one cell
      // boundary per axis, and candidate volume is Σ_cell 9·n_a·n_b,
      // density-bounded, never all-pairs (the same bucket discipline
      // as the LSH/IVF families; a naive BETWEEN range join would be
      // an unbounded broadcast-nested-loop at scale). Points are the
      // first two embedding dims; r = 2⁻⁵ and the grid floor(x/r)
      // are EXACT in binary (power-of-two scale), and the d² ≤ r²
      // refine compares identically-parenthesized doubles — both
      // engines agree bit-for-bit with zero rounding helpers.
      // Readout: per-point neighbour census over the FULL vec_id
      // spine — points with zero in-radius neighbours appear with
      // n_nb = 0 (r17 ADVICE: the grouped-pairs census silently
      // dropped them, the q_sample_neyman dropped-spine class).
      val cnt = spatialPairs(s, d)
        .groupBy(col("i").as("vec_id"))
        .agg(count(lit(1)).as("n_nb0"))
      t(s, d, "embeddings").select(col("vec_id"))
        .join(cnt, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("n_nb0"), lit(0L)).as("n_nb"))
        .orderBy("vec_id")
    }),
    "q_spatial_dbscan" -> ((s, d) => {
      // DBSCAN density clustering on the same grid — the
      // DENSITY-based clustering family next to the centroid
      // (kmeans) and similarity (LSH/SemDeDup) families the gate
      // already carries: a point is CORE iff it has ≥ 4 in-radius
      // neighbours; clusters are the connected components of the
      // core–core in-radius graph (the distributed pointer-jumping
      // CC, label = min vec_id — self-edges keep isolated cores
      // alive); BORDER points (non-core with a core neighbour)
      // attach to the min-labelled core neighbour's cluster —
      // deterministic, the tie rule a parallel DBSCAN needs stated;
      // everything else is noise (derivable, not emitted). Every
      // quadratic is the grid equi-join's, density-bounded; the
      // closure is pointer jumping, never the O(n²) transitive
      // blow-up. Census per cluster: size, core count, border count.
      dbscanCensus(spatialPairs(s, d))
    }),
    "q_spatial_dbscan_auto" -> ((s, d) => {
      // the SAME DBSCAN with the radius AUTO-SIZED from the corpus
      // count (r17 verdict item 2 — the fixed sibling IS a density
      // stress: 100× points in the same unit box densify the core
      // graph ~quadratically, measured 1093 s at sf10): in-radius
      // neighbour counts are ~n·πr², so r = 2^(−autoSpatialRadiusExp)
      // halves the radius every 4× in points, holding per-point
      // neighbour counts — and with them the grid join's per-cell
      // populations, the core graph's degree, and the CC's edge
      // volume — inside a fixed band; total cost returns to ~linear
      // in n, the auto-knob family's contract (autoCellCount /
      // autoPlanesPerBand / autoTwoLevelFanout). Power-of-two radius
      // keeps every grid floor and d² ≤ r² refine exact in binary;
      // the exponent is integer-exact, oracle-re-derived from
      // count(*), and rides on every output row. Reproduces the
      // fixed sibling's r = 2⁻⁵ at every fixture SF (spec-pinned
      // identity, Wave31 — so the fixed sibling's oracle semantics
      // ARE this entry's at gate scale).
      val eExp = graft.operators.Similarity
        .autoSpatialRadiusExp(t(s, d, "embeddings").count())
      dbscanCensus(spatialPairs(s, d, 1.0 / (1L << eExp)))
        .withColumn("r_exp", lit(eExp))
    }),
    "q_embed_ivf_append" -> ((s, d) => {
      // incremental ANN index MAINTENANCE: arrivals (vec_id % 10 == 0
      // above the centroid range) are assigned to the EXISTING
      // centroids — assignment is row-local, so no recluster and no
      // rebuild — and APPENDED into the same cid-partitioned layout
      // the base index uses: one partitionBy write of the new rows
      // only, never touching existing cell files. Because per-row
      // assignment is independent of every other row, the maintained
      // index is content-identical to a full rebuild, and the probe
      // answer matches the batch oracle exactly — the correctness
      // argument for append-only ingest a production vector store
      // relies on per batch. Probe = the ivf_indexed shape (1-row
      // cell lookup, literal-cid partition-pruned scan, in-cell
      // top-10).
      val idx = shared.table(s, d, "ivf_index_app",
          Tables.fingerprint(s, d, "embeddings")) { (name, dir) =>
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val cents = e.where(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val isArrival = (col("vec_id") % 10 === 0) && col("vec_id") > 8
        Similarity.assignCells(e.where(!isArrival), cents)
          .write.format("parquet").mode("overwrite").partitionBy("cid")
          .option("path", dir.resolve("index").toString)
          .saveAsTable(name)
        Similarity.assignCells(e.where(isArrival), cents)
          .write.mode("append").insertInto(name)
      }
      val qRow = idx.where(col("vec_id") === 0)
        .select(col("cid"), col("v")).head()
      val qv = idx.sparkSession.createDataFrame(
        java.util.List.of(qRow), qRow.schema).select(col("v").as("qv"))
      Similarity.bruteForceTopK(
        idx.where(col("cid") === qRow.getLong(0) && col("vec_id") =!= 0), qv, 10)
    }),
    "q_embed_mips" -> ((s, d) => {
      // MIPS — max-INNER-PRODUCT retrieval, the recommendation-model
      // scoring op (user·item, where vector norms carry popularity —
      // cosine is deliberately the WRONG ranking here, and the family
      // had only cosine/L2 retrieval): exact top-10 by raw dot via
      // the codegen dot_fold, compiling to TakeOrderedAndProject —
      // never a global sort. The fixture embeddings are UNIT-norm, so
      // the norm variation MIPS exists for is supplied by a
      // deterministic integer popularity weight (1 + vec_id mod 7)
      // scaling each corpus vector — cosine is invariant to that
      // scale, dot is not, which is the whole point (Wave28Spec pins
      // the two rankings apart). The standard ANN reduction (augment
      // corpus vectors with sqrt(M²−‖x‖²) so augmented-cosine ranks
      // == dot ranks; Bachrach et al. 2014) is pinned in Wave28Spec
      // as the scale path's correctness argument. Exact-float: the
      // weight is integer-valued, so weight*dot is one deterministic
      // IEEE product before the single round(4).
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val qv = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      e.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(((col("vec_id") % 7) + lit(1)).cast("double") *
            expr("dot_fold(v, qv)"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    }),
    "q_embed_pca" -> ((s, d) => {
      // top PRINCIPAL COMPONENT of the embedding corpus by power
      // iteration — the dimensionality-reduction/whitening primitive
      // (PCA compression, anisotropy diagnosis: a dominant component
      // with a large eigenvalue share flags the rogue-dimension
      // pathology common in LM embeddings). Float discipline: NO
      // intermediate division (the first cut divided by n for the
      // means and covariance and rounded the quotients — at sf0.1
      // n = 5000 divides a power of ten, the quotients terminate, and
      // a loading diverged at an exact rounding half). Instead the
      // iteration runs on the n³-SCALED covariance M = Y'Y where
      // y_ij = n·x_ij − Σx_j is an exact decimal — per-step
      // normalization absorbs any label-constant scale, so the
      // eigenvector is unchanged and the eigenvalue is recovered as
      // ‖Mv‖/n³ at the end (a quotient under a sqrt — irrational,
      // never on a rounding boundary). Stages: (1) exact scaled
      // centering; (2) the 64×64 scaled covariance via a
      // double-posexplode outer product — 4096 EXACT-decimal terms
      // generated in place per vector (no self-join shuffle) into one
      // partial+final hash agg with d² = 4096 groups, the shape that
      // holds at any corpus size; (3) six fixed power-iteration steps
      // on the checkpointed cell table — each mat-vec is EXACT decimal
      // arithmetic (decimal(24,12) cells × decimal(8,6) components),
      // its output integer-rounded (relative error ~1e-12 at the
      // cells' 1e11 magnitude) so the norm's squares stay exact; the
      // only floats are the two sqrt quotients, both boundary-safe.
      // v0 = 0.125 uniform (exact), so every step is deterministic
      // cross-engine to the last bit.
      pcaTopComponent(t(s, d, "embeddings"))
    }),
    "q_embed_pca_sampled" -> ((s, d) => {
      // the SAMPLED-covariance PCA path (r15 verdict item 3) — the
      // 100 TB answer to q_embed_pca's exact-decimal capacity ceiling:
      // the scaled-centering decimals overflow Decimal(24,12) once the
      // input passes n ≈ a few 10⁴ (a loud ANSI refusal, measured:
      // 20 k fits at 8·10¹⁰, 50 k refuses at 2.7·10¹², 200 k at
      // 2.8·10¹³), so at scale the covariance is estimated on a
      // HASH-DETERMINISTIC row sample. The knob is a sample MODULUS
      // computed from the corpus count (Similarity.autoSampleModulus:
      // m = ⌈n/12500⌉ — a fixed RATE was the first cut and failed the
      // measurement it existed for: 4/16 of sf10's 200 k is a 50 k
      // sample, which re-overflowed), keeping the expected sample
      // ≈ 12 500 at ANY corpus size: keep rows with
      // hash32(vec_id) % m == 0 — a 32-bit md5 slice, so the modulus
      // stays a genuine modulus to m ≤ 2³² (n ≈ 5·10¹³; a 16-bit
      // slice was the first cut and degenerates to a fixed 1/65536
      // rate once m > 65536, n ≈ 8·10⁸ — the r16 ADVICE catch) —
      // content-independent, engine-exact
      // (the q_mix_shuffle md5-hex idiom), so the DuckDB oracle
      // samples the identical rows and the result stays hash-matched,
      // unlike an rng sample. m = 1 at every fixture SF, so the
      // sampled path provably REPRODUCES q_embed_pca there (the
      // auto-knob oracle-identity convention); the chosen m rides on
      // every row. Top-component perturbation vs the full path is
      // quantified in BASELINE.md at the SFs where both complete.
      val emb = t(s, d, "embeddings")
      val m = Similarity.autoSampleModulus(emb.count())
      pcaTopComponent(emb.where(
          conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % m === 0))
        .withColumn("modulus", lit(m.toInt))
    }),
    "q_sample_coreset" -> ((s, d) => {
      // greedy k-CENTER coreset selection (farthest-point traversal —
      // the Sener & Savarese 2018 active-learning/data-pruning
      // primitive): seed at vec_id 0, then 8 rounds of "select the
      // vector farthest from everything selected so far". The
      // selection sequence doubles as the coverage-radius curve (each
      // round's max-min distance), the readout data-pruning papers
      // plot. Determinism is TOTAL: components round to 6 → exact
      // decimal(18,6); squared distances are exact decimal(24,12)
      // sums; the running min-distance and every argmax comparison
      // happen on exact decimals with a vec_id tiebreak — no float
      // exists anywhere until the radius is cast (exactly) for
      // output. Shape per round: the 1-row selection broadcasts into
      // a 64-row center probe, one j-keyed join + per-vector hash agg
      // updates the min-distance table (pinned per round, reaped) —
      // k passes over the corpus, the honest k-center cost, each
      // pass embarrassingly parallel.
      // r21: machinery moved to Similarity.greedyKCenter — identical
      // distributed selection loop past the 4096-vector dense-local
      // bound (every bench/gate fixture sits below it; sf1's 20k+
      // vectors run the distributed rounds unchanged), one collected
      // component table and the same exact-decimal algebra below it
      // (Wave35Spec pins the two paths row-for-row equal).
      graft.operators.Similarity.greedyKCenter(t(s, d, "embeddings"), k = 8)
    }),
    "q_embed_outlier" -> ((s, d) => {
      // embedding-space OUTLIER probe — per-label distance-to-centroid
      // z-scores, top-20: the mislabeled/garbage-vector detector that
      // runs before near-dup or semantic dedup trusts the space
      // (q_embed_norms catches collapse, q_embed_drift catches shift;
      // this catches individual rogue points). Float discipline: NO
      // intermediate division at all. The centroid gap is scaled by
      // the label count (e = n·x − Σx, exact decimal), the squared
      // distance lives in that scaled space (d2s = Σe², exact — the
      // 1/n² factor is label-constant, so z is unchanged), and the
      // deviation dd = n·d2s − Σd2s is rounded to an exact INTEGER
      // before squaring — every value both engines touch before the
      // final division is an exact decimal, so the first cut's
      // round-a-mean-at-an-exact-half divergence (2.0421 vs 2.042 at
      // sf0.001) cannot occur; the one rounded float, z itself, is a
      // quotient under a sqrt and never sits on a rounding boundary.
      // Shape: three hash-agg passes, label-sized broadcasts, pinned
      // per-vector table, TakeOrdered top-20.
      val ex = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .toDF("vec_id", "label", "pos", "x0")
        .select(col("vec_id"), col("label"), col("pos"),
          round(col("x0").cast("double"), 6).cast("decimal(18,6)").as("x"))
      val g = ex.groupBy("label", "pos").agg(
        sum(col("x")).cast("decimal(24,6)").as("sx"),
        count(lit(1)).cast("decimal(4,0)").as("nl"))
      val d2s = ex.join(broadcast(g), Seq("label", "pos"))
        .select(col("vec_id"), col("label"),
          (col("x") * col("nl") - col("sx")).cast("decimal(18,6)").as("e"))
        .select(col("vec_id"), col("label"),
          (col("e") * col("e")).cast("decimal(38,12)").as("e2"))
        .groupBy("vec_id", "label")
        .agg(sum(col("e2")).cast("decimal(24,12)").as("d2s"))
        .localCheckpoint(true) // sum pass and deviation pass both read it
      val st = d2s.groupBy("label").agg(
        sum(col("d2s")).cast("decimal(28,12)").as("sd2"),
        count(lit(1)).cast("decimal(4,0)").as("n"))
      val dd = d2s.join(broadcast(st), "label")
        .select(col("vec_id"), col("label"), col("n"),
          round(col("d2s") * col("n") - col("sd2"), 0)
            .cast("decimal(18,0)").as("dd"))
        .localCheckpoint(true) // T pass and z pass both read it
      val tt = dd.groupBy("label").agg(
        sum((col("dd") * col("dd")).cast("decimal(38,0)")).as("tt"),
        max(col("n")).as("n2"))
      dd.join(broadcast(tt), "label")
        .where(col("tt") > 0)
        .select(col("vec_id"), col("label"),
          round(col("dd").cast("double") /
            sqrt(col("tt").cast("double") / col("n2").cast("double")), 4).as("z"))
        .orderBy(col("z").desc, col("vec_id"))
        .limit(20)
    }),
    "q_embed_drift" -> ((s, d) => {
      // vector-store DRIFT monitor — per-label centroid shift between
      // the reference half (even vec_ids) and the current half (odd):
      // the embedding-ops readout next to q_embed_norms' collapse
      // probe (re-embedding or upstream-model drift shows up here
      // before retrieval quality visibly degrades). Per (label, dim):
      // components are rounded TERM-LOCAL then decimal-summed, so
      // both means are accumulation-order free; drift² per label is
      // the rounded-term decimal sum of squared mean gaps. One
      // explode + two hash aggs; dims (64) are the bounded axis.
      val ex = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .toDF("vec_id", "label", "pos", "x0")
        .select(col("vec_id"), col("label"), col("pos"),
          round(col("x0").cast("double"), 6).cast("decimal(38,8)").as("x"))
      val g = ex.groupBy("label", "pos").agg(
        round(sum(when(col("vec_id") % 2 === 0, col("x"))).cast("double") /
          sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)), 6).as("mref"),
        round(sum(when(col("vec_id") % 2 === 1, col("x"))).cast("double") /
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)), 6).as("mcur"))
      g.select(col("label"),
          round((col("mcur") - col("mref")) * (col("mcur") - col("mref")), 8).as("t"))
        .groupBy("label")
        .agg(round(sum(col("t").cast("decimal(38,18)")).cast("double"), 6).as("drift2"))
        .orderBy("label")
    }),
    "q_embed_ivf_compact" -> ((s, d) => {
      // index COMPACTION — the third maintenance op, closing the
      // append/delete/compact cycle: once the tombstone ratio
      // justifies the write amplification, cells are rewritten
      // WITHOUT the tombstoned rows into a fresh cid-partitioned
      // layout and probes drop their anti-join. The compacted index
      // must answer exactly like the tombstone-masked one — this
      // entry IS that equivalence (it shares q_embed_ivf_delete's
      // oracle verbatim). The rewrite is one partitionBy write of
      // surviving rows; with per-cell files only cells holding
      // tombstones need rewriting at scale.
      val idx = shared.table(s, d, "ivf_index_cmp",
          Tables.fingerprint(s, d, "embeddings")) { (name, dir) =>
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val cents = e.where(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        Similarity.assignCells(e.where(col("vec_id") % 7 =!= 3), cents)
          .write.format("parquet").mode("overwrite").partitionBy("cid")
          .option("path", dir.resolve("index").toString)
          .saveAsTable(name)
      }
      val qRow = idx.where(col("vec_id") === 0)
        .select(col("cid"), col("v")).head()
      val qv = idx.sparkSession.createDataFrame(
        java.util.List.of(qRow), qRow.schema).select(col("v").as("qv"))
      Similarity.bruteForceTopK(
        idx.where(col("cid") === qRow.getLong(0) && col("vec_id") =!= 0)
          .select(col("vec_id"), col("v")),
        qv, 10)
    }),
    "q_embed_ivf_indexed" -> ((s, d) => {
      // the PERSISTED-index ANN probe: the IVF cell assignment is
      // materialized ONCE as a catalog table PARTITIONED by cid
      // (SessionMemo.table — built on first touch, reused by every
      // later probe, the "index build once, probe many" layout a real
      // ANN service maintains; one directory per cell = the on-disk
      // inverted-list layout). A probe is (1) a bounded 1-row driver
      // lookup of the query vector's cell — the inherent index-probe
      // shape, like reading an index root — then (2) a LITERAL-cid
      // scan whose partition filter prunes to that one cell's files
      // before any row is read (spec-asserted), then (3) exact cosine
      // top-10 inside the cell. No centroid cross-score, no
      // assignment agg, no exchange at probe time — q_embed_ivf
      // recomputes all three per query; same results, same oracle.
      val idx = ivfIndex(s, d)
      val qRow = idx.where(col("vec_id") === 0)
        .select(col("cid"), col("v")).head()
      val qcid = qRow.getLong(0)
      val qv = idx.sparkSession.createDataFrame(
        java.util.List.of(qRow), qRow.schema)
        .select(col("v").as("qv"))
      Similarity.bruteForceTopK(
        idx.where(col("cid") === qcid && col("vec_id") =!= 0)
          .select(col("vec_id"), col("v")),
        qv, 10)
    }),
    "q_embed_ivf_delete" -> ((s, d) => {
      // incremental ANN index DELETE — the other half of maintenance
      // next to q_embed_ivf_append, completing the index CRUD story:
      // deletes arrive as a TOMBSTONE SET (ids, not a storage
      // rewrite), and probes apply one broadcast anti-join against it
      // — the production vector-store delete path (rewriting cell
      // files per delete is O(cell) write amplification; tombstones
      // make delete O(1) and defer the rewrite to compaction once the
      // tombstone ratio crosses a threshold). Probe = the ivf_indexed
      // shape (1-row cell lookup, literal-cid partition-pruned scan,
      // in-cell top-10) + the anti-join. Oracle: the batch IVF SQL
      // minus the deleted ids — a tombstone-masked index answers
      // exactly like one rebuilt without those rows.
      val idx = ivfIndex(s, d)
      val tomb = t(s, d, "embeddings").where(col("vec_id") % 7 === 3)
        .select(col("vec_id"))
      val qRow = idx.where(col("vec_id") === 0)
        .select(col("cid"), col("v")).head()
      val qv = idx.sparkSession.createDataFrame(
        java.util.List.of(qRow), qRow.schema).select(col("v").as("qv"))
      Similarity.bruteForceTopK(
        idx.where(col("cid") === qRow.getLong(0) && col("vec_id") =!= 0)
          .join(broadcast(tomb), Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("v")),
        qv, 10)
    }),
    "q_embed_pq" -> ((s, d) => {
      // Product quantization — the classic ANN codebook path,
      // completing the family (IVF cells, hyperplane LSH, int8 scalar
      // quant, ADC rerank): 8 subspaces x 8 dims, codebook = the
      // subvectors of vectors 1..16, so each vector compresses to 8
      // one-byte codes (64x smaller than the double vector). Query
      // scoring is ADC: a 128-entry lookup table of query-subvector .
      // codeword dots (built once, broadcast), summed per vector
      // through its codes — the scan side touches only the narrow
      // code table, never the full vectors; exact cosine rescores
      // just the top-50 candidates. Subspace folds are the codegen'd
      // l2sq_fold/dot_fold expressions; the per-vector ADC sum is
      // decimal-cast so the 8-term accumulation is order-free for the
      // oracle hash-match.
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings").select(col("vec_id"), toDouble(col("embedding")).as("v"))
      // ONE pin (repo read-twice rule): the subvector table feeds the
      // codebook, the assignment join, and the query LUT — unpinned,
      // the embeddings scan + explode would execute three times
      val vs = e.select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("sub"), col("v"))
        .select(col("vec_id"), col("sub"), expr("slice(v, sub * 8 + 1, 8)").as("sv"))
        .localCheckpoint(true)
      val cb = vs.where(col("vec_id").between(1, 16))
        .select(col("vec_id").as("code"), col("sub"), col("sv").as("scv"))
      val codes = vs.join(broadcast(cb), "sub")
        .select(col("vec_id"), col("sub"), col("code"),
          expr("l2sq_fold(sv, scv)").as("d2"))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("d2"), col("code"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.code").as("code"))
      val lut = cb.join(
          vs.where(col("vec_id") === 0).select(col("sub"), col("sv").as("qsv")), "sub")
        .select(col("sub"), col("code"), expr("dot_fold(scv, qsv)").as("pdot"))
      val approx = codes.where(col("vec_id") =!= 0)
        .join(broadcast(lut), Seq("sub", "code"))
        .groupBy("vec_id")
        .agg(round(sum(col("pdot").cast("decimal(28,12)")).cast("double"), 4).as("approx"))
      val cand = approx.orderBy(desc("approx"), col("vec_id")).limit(50)
      val q0 = e.where(col("vec_id") === 0).select(col("v").as("qfull"))
      cand.join(e, "vec_id").crossJoin(broadcast(q0))
        .select(col("vec_id"), col("approx"),
          round(expr("cosine_sim(v, qfull)"), 4).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10)
    }),
    "q_embed_matryoshka" -> ((s, d) => {
      // MATRYOSHKA truncation quality (Kusupati et al. 2022 — the MRL
      // serving trick: rank with a cheap PREFIX of the embedding,
      // fall back to full dims only for the finalists): recall@10 of
      // the 16-dim and 32-dim prefix cosine rankings against the full
      // 64-dim exact top-10 — the measurement that decides how many
      // dims the first-pass scan can drop at 100 TB (a 16-dim prefix
      // reads a quarter of the bytes). Same deterministic ranking
      // recipe as q_embed_recall (rounded score desc, vec_id
      // tiebreak); prefix dot/norms are explicit left folds so the
      // oracle replays them term-for-term.
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      def topkPrefix(p: Int): DataFrame =
        e.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"), round(expr(
            s"aggregate(zip_with(slice(v, 1, $p), slice(qv, 1, $p), (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)" +
            s" / sqrt(aggregate(slice(v, 1, $p), 0.0D, (acc, x) -> acc + x * x)" +
            s" * aggregate(slice(qv, 1, $p), 0.0D, (acc, x) -> acc + x * x))"), 4)
            .as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(10)
      val full = topkPrefix(64).select(col("vec_id").as("fv"))
        .localCheckpoint(true) // compared against twice
      Seq(16, 32).map { p =>
        topkPrefix(p)
          .join(full, col("vec_id") === col("fv"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(p).as("dims"), col("hits"),
            round(col("hits") / 10.0, 4).as("recall_at_10"))
      }.reduce(_.union(_)).orderBy("dims")
    }),
    "q_embed_recall" -> ((s, d) => {
      // ANN QUALITY measurement: recall@10 of the single-cell IVF probe
      // against the exact brute-force top-10 — the number that tunes
      // cell count / nprobe in a real ANN deployment, computed as a
      // query so the tradeoff is measurable in-engine. Both top-10
      // lists are deterministic (rounded score desc, vec_id tiebreak),
      // so the recall is exact and oracle-checkable.
      val e = t(s, d, "embeddings").select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val approx = Similarity.ivfTopK(Similarity.assignCells(e, cents), 0L, 10)
        .select(col("vec_id"))
      val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val exact = Similarity.bruteForceTopK(e.where(col("vec_id") =!= 0), q, 10)
        .select(col("vec_id").as("ev"))
      approx.join(exact, col("vec_id") === col("ev"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(col("hits"), round(col("hits") / 10.0, 4).as("recall_at_10"))
    }),
    "q_embed_spearman" -> ((s, d) => {
      // RANK-FIDELITY readout for the int8 prefilter: Spearman ρ
      // between the exact-cosine ranking and the quantized int8
      // ranking over the exact top-100 candidates — the measurement
      // that justifies q_embed_rerank's stage-1 candidate count c
      // (ρ near 1 ⇒ a small c already contains the true top-k; the
      // acc-readout sibling of embed_recall for the quantized
      // family). Both rankings are deterministic (score desc, vec_id
      // tiebreak); ranks and Σd² are exact integers, so
      // ρ = 1 − 6Σd²/(n(n²−1)) is ONE IEEE division of exact
      // integers, output unrounded (bit-identical cross-engine — the
      // q_events_changepoint float rule). The rank windows run over
      // 100 rows.
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
        .withColumn("qscale", array_max(transform(col("qv"), x => abs(x))))
        .withColumn("qcodes", transform(col("qv"), x =>
          when(col("qscale") === 0, lit(0.0))
            .otherwise(floor(x / col("qscale") * 127 + lit(0.5)))))
      val ex = e.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), col("v"), col("qcodes"), col("qscale"),
          round(expr("cosine_sim(v, qv)"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(100)
        .localCheckpoint(true) // both rank windows read it
      val wExact = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("vec_id"))
      val wQuant = org.apache.spark.sql.expressions.Window
        .orderBy(col("approx").desc, col("vec_id"))
      ex.withColumn("re", row_number().over(wExact))
        .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
        .withColumn("codes", transform(col("v"), x =>
          when(col("scale") === 0, lit(0.0))
            .otherwise(floor(x / col("scale") * 127 + lit(0.5)))))
        .withColumn("idot", aggregate(
          zip_with(col("codes"), col("qcodes"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
        .withColumn("approx",
          col("idot") * col("scale") * col("qscale") / lit(16129.0))
        .withColumn("rq", row_number().over(wQuant))
        .agg(count(lit(1)).as("n"),
          sum((col("re") - col("rq")) * (col("re") - col("rq")))
            .cast("long").as("sum_d2"))
        .select(col("n"), col("sum_d2"),
          ((col("n") * (col("n") * col("n") - 1) - lit(6L) * col("sum_d2"))
            .cast("double") /
            (col("n") * (col("n") * col("n") - 1)).cast("double")).as("rho"))
        // ρ needs n ≥ 2 (n(n²−1) = 0 at n ≤ 1 → IEEE NaN here vs
        // DuckDB NULL); drop the degenerate single-candidate case
        .where(col("n") >= 2)
    }),
    "q_embed_rerank" -> ((s, d) => {
      // two-stage retrieval: int8 integer-dot prefilter over the whole
      // corpus -> exact float cosine rescore of the top-50 candidates
      // -> top-10. The production ANN serving shape: cheap math and a
      // quarter of the bytes for the full scan, exact math only on the
      // candidate set.
      val e = t(s, d, "embeddings").select(col("vec_id"), toDouble(col("embedding")).as("v"))
      Similarity.quantizedRerankTopK(
        e.where(col("vec_id") =!= 0),
        e.where(col("vec_id") === 0).select(col("v").as("qv")),
        c = 50, k = 10)
    }),
    "q_embed_ivf_multiprobe" -> ((s, d) => {
      // the recall LEVER: probe the query's 2 nearest cells instead of
      // 1 (Similarity.ivfTopKMultiProbe) and measure recall@10 against
      // the same brute-force top-10 as q_embed_recall — the pair of
      // queries quantifies the nprobe/recall tradeoff in-engine. Cost
      // stays bucket-bound: 2/8 of the corpus scored, never all of it.
      val e = t(s, d, "embeddings").select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val approx = Similarity.ivfTopKMultiProbe(
          Similarity.assignCells(e, cents), cents, 0L, 10, nProbe = 2)
        .select(col("vec_id"))
      val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val exact = Similarity.bruteForceTopK(e.where(col("vec_id") =!= 0), q, 10)
        .select(col("vec_id").as("ev"))
      approx.join(exact, col("vec_id") === col("ev"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(col("hits"), round(col("hits") / 10.0, 4).as("recall_at_10"))
    }),
    "q_embed_ivf_filtered" -> ((s, d) => {
      // METADATA-FILTERED ANN — the production vector-store feature
      // every serving stack exposes (FAISS IDSelector, pgvector's
      // WHERE, Milvus' expr): top-k among only the rows passing a
      // predicate (here the deterministic 1/16 slice
      // vec_id % 16 = 1). The subtlety a naive post-filter misses is
      // CANDIDATE STARVATION: one probed cell holds only ~(n/k)/16
      // allowed rows, fewer than k results at small corpora — so the
      // probe count WIDENS from the selectivity. r18 verdict item 5:
      // both knobs now follow the family's auto-knob convention
      // instead of this entry's original hardcoded (8 cells, 1/16)
      // geometry — cells = autoCellCount(n) and the selectivity is
      // MEASURED as a count (n_allowed, integer-exact,
      // oracle-re-derived), so probes = clamp(⌈k_res · cells /
      // n_allowed⌉, [1, cells]): the expected allowed rows per probed
      // cell is n_allowed/cells, and probes cells of them cover the
      // k_res = 10 asked-for results. Reproduces the r18 fixture
      // geometry exactly (8 cells, probes 3 at sf0.001 / 1 at
      // sf0.01 — spec-pinned) while scaling the cell count with the
      // corpus. The filter applies BEFORE scoring: only allowed
      // rows of probed cells are ever scored — candidates stay
      // bucket-bound, and both chosen knobs ride on every row.
      graft.functions.expressions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings")
      val n = emb.count()
      val cells = Similarity.autoCellCount(n)
      val e = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val nAllowed = math.max(1L,
        e.where(col("vec_id") =!= 0 && col("vec_id") % 16 === 1).count())
      val probes = math.max(1L, math.min(cells.toLong,
        (10L * cells + nAllowed - 1) / nAllowed)).toInt
      val cents = e.where(col("vec_id").between(1, cells))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val a = Similarity.assignCells(e, cents)
      val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val pc = cents.crossJoin(broadcast(q))
        .select(col("cid").as("qcid"), col("qv"),
          expr("l2sq_fold(cv, qv)").as("dist"))
        .orderBy(col("dist"), col("qcid")).limit(probes)
        .select(col("qcid"), col("qv"))
      val joined = a.join(broadcast(pc), col("cid") === col("qcid"))
        .where(col("vec_id") =!= 0 && col("vec_id") % 16 === 1)
      joined.select(col("vec_id"),
          round(expr("cosine_sim(v, qv)"), 4).as("score"),
          lit(probes).as("n_probes"), lit(cells).as("n_cells"))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
    }),
    "q_embed_binary" -> ((s, d) => {
      // 1-BIT binary quantization retrieval — the 64×-compression
      // rung below q_embed_rerank's int8 path (binary embeddings are
      // the production first pass when the corpus must fit RAM: sign
      // bits only, hamming distance = XOR + popcount, SIMD-friendly).
      // Codes pack into two 32-bit halves (a single 64-bit pack would
      // need bit 63 — BIGINT-overflow territory in either engine);
      // stage 1 = hamming top-50 (asc, id tiebreak — exact integer
      // distances, deterministic), stage 2 = exact cosine rescore →
      // top-10. Same two-stage TakeOrdered shape as rerank: cheap
      // integer math over the full scan, float math only on the
      // candidate set.
      graft.functions.expressions.GraftFunctions.register(s)
      def packBits(vcol: String, lo: Int) =
        expr(s"aggregate(zip_with(slice($vcol, $lo, 32), sequence(0, 31), " +
          "(x, i) -> IF(x >= CAST(0 AS DOUBLE), shiftleft(CAST(1 AS BIGINT), i), " +
          "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (acc, t) -> acc + t)")
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("b0", packBits("v", 1))
        .withColumn("b1", packBits("v", 33))
      val q = e.where(col("vec_id") === 0)
        .select(col("v").as("qv"), col("b0").as("qb0"), col("b1").as("qb1"))
      val cand = e.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("hamming",
          expr("bit_count(b0 ^ qb0) + bit_count(b1 ^ qb1)").cast("int"))
        .orderBy(col("hamming"), col("vec_id")).limit(50)
      cand.select(col("vec_id"), col("hamming"),
          round(expr("cosine_sim(v, qv)"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
    }),
    "q_embed_binary_recall" -> ((s, d) => {
      // the ACCURACY readout for the binary family (one measurement
      // per approximate family — minhash_acc / embed_recall /
      // spearman precedent): recall@10 of the hamming top-50
      // candidate set against the exact brute-force top-10. High
      // recall here is what licenses the 64× compression as a first
      // pass; the q_embed_recall shape verbatim.
      graft.functions.expressions.GraftFunctions.register(s)
      def packBits(vcol: String, lo: Int) =
        expr(s"aggregate(zip_with(slice($vcol, $lo, 32), sequence(0, 31), " +
          "(x, i) -> IF(x >= CAST(0 AS DOUBLE), shiftleft(CAST(1 AS BIGINT), i), " +
          "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (acc, t) -> acc + t)")
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("b0", packBits("v", 1))
        .withColumn("b1", packBits("v", 33))
      val q = e.where(col("vec_id") === 0)
        .select(col("v").as("qv"), col("b0").as("qb0"), col("b1").as("qb1"))
      val cand = e.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("hamming",
          expr("bit_count(b0 ^ qb0) + bit_count(b1 ^ qb1)").cast("int"))
        .orderBy(col("hamming"), col("vec_id")).limit(50)
        .select(col("vec_id"))
      val exact = Similarity.bruteForceTopK(
          e.select("vec_id", "v").where(col("vec_id") =!= 0),
          e.where(col("vec_id") === 0).select(col("v").as("qv")), 10)
        .select(col("vec_id").as("ev"))
      cand.join(exact, col("vec_id") === col("ev"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(col("hits"), round(col("hits") / 10.0, 4).as("recall_at_10"))
    }),
    "q_embed_ivfpq" -> ((s, d) => {
      // IVF-PQ COMPOSITION — the FAISS IndexIVFPQ serving stack as
      // one query, closing the ANN family's capstone: coarse IVF cell
      // prune FIRST (the query's cell only), ADC codebook scoring
      // over just that cell's precomputed codes, exact cosine rescore
      // of the top-20. At scale each stage touches what a production
      // index reads: O(cells) coarse scan, O(|cell|)·8 one-byte LUT
      // adds, O(20) float cosines — never the full vector corpus.
      // Codes are corpus-wide (the persisted index model, ivf_indexed
      // precedent); the probe restricts by cell membership.
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = Similarity.assignCells(e, cents)
      val qcell = assigned.where(col("vec_id") === 0)
        .select(col("cid").as("qcid"), col("v").as("qv"))
      val cellIds = assigned.join(broadcast(qcell), col("cid") === col("qcid"))
        .select(col("vec_id"))
      val vs = e.select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("sub"), col("v"))
        .select(col("vec_id"), col("sub"), expr("slice(v, sub * 8 + 1, 8)").as("sv"))
        .localCheckpoint(true) // codebook + assignment + query LUT
      val cb = vs.where(col("vec_id").between(1, 16))
        .select(col("vec_id").as("code"), col("sub"), col("sv").as("scv"))
      val codes = vs.join(broadcast(cb), "sub")
        .select(col("vec_id"), col("sub"), col("code"),
          expr("l2sq_fold(sv, scv)").as("d2"))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("d2"), col("code"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.code").as("code"))
      val lut = cb.join(
          vs.where(col("vec_id") === 0).select(col("sub"), col("sv").as("qsv")), "sub")
        .select(col("sub"), col("code"), expr("dot_fold(scv, qsv)").as("pdot"))
      val approx = codes.join(cellIds, "vec_id")
        .where(col("vec_id") =!= 0)
        .join(broadcast(lut), Seq("sub", "code"))
        .groupBy("vec_id")
        .agg(round(sum(col("pdot").cast("decimal(28,12)")).cast("double"), 4)
          .as("approx"))
      val cand = approx.orderBy(desc("approx"), col("vec_id")).limit(20)
      val q0 = e.where(col("vec_id") === 0).select(col("v").as("qfull"))
      cand.join(e, "vec_id").crossJoin(broadcast(q0))
        .select(col("vec_id"), col("approx"),
          round(expr("cosine_sim(v, qfull)"), 4).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10)
    }),
    "q_embed_ivfpq_residual" -> ((s, d) => {
      // RESIDUAL-encoded IVF-PQ — the encoding FAISS IndexIVFPQ
      // actually defaults to (and the reason it beats flat PQ at the
      // same byte budget): vectors are PQ-coded as (v − centroid)
      // rather than raw v, so the codebook spends its 16 entries on
      // the small within-cell residual ball instead of the whole
      // space. Ranking stays correct per cell because
      // dot(q, v) = dot(q, cv) + dot(q, r_v) EXACTLY, the probe
      // restricts to ONE cell where dot(q, cv) is a constant, and the
      // ADC approximates only the residual term — so the LUT dots the
      // RAW query slices against the residual codewords (an r16
      // review caught the first cut using the query's own residual
      // there, which drops a per-VECTOR dot(cv, r_v) term and is NOT
      // order-preserving). Same
      // stage costs as q_embed_ivfpq (O(cells) + O(|cell|)·8 LUT
      // adds + O(20) exact cosines); the residual subtraction is one
      // extra zip_with inside codegen. Residual codebooks train on
      // the POOLED residuals of vec_ids 1..16 (each wrt its own
      // cell's centroid — the FAISS recipe).
      graft.functions.expressions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val cents = e.where(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val withR = Similarity.assignCells(e, cents)
        .join(broadcast(cents), "cid")
        .select(col("vec_id"), col("v"), col("cid"),
          expr("zip_with(v, cv, (a, b) -> a - b)").as("r"))
        .localCheckpoint(true) // qcell + slices both read it
      val qcell = withR.where(col("vec_id") === 0)
        .select(col("cid").as("qcid"))
      val cellIds = withR.join(broadcast(qcell), col("cid") === col("qcid"))
        .select(col("vec_id"))
      val vs = withR.select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("sub"), col("r"))
        .select(col("vec_id"), col("sub"), expr("slice(r, sub * 8 + 1, 8)").as("sv"))
        .localCheckpoint(true) // codebook + assignment + query LUT
      val cb = vs.where(col("vec_id").between(1, 16))
        .select(col("vec_id").as("code"), col("sub"), col("sv").as("scv"))
      val codes = vs.join(broadcast(cb), "sub")
        .select(col("vec_id"), col("sub"), col("code"),
          expr("l2sq_fold(sv, scv)").as("d2"))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("d2"), col("code"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.code").as("code"))
      val qsl = withR.where(col("vec_id") === 0)
        .select(explode(sequence(lit(0), lit(7))).as("sub"), col("v"))
        .select(col("sub"), expr("slice(v, sub * 8 + 1, 8)").as("qsv"))
      val lut = cb.join(broadcast(qsl), "sub")
        .select(col("sub"), col("code"), expr("dot_fold(scv, qsv)").as("pdot"))
      val approx = codes.join(cellIds, "vec_id")
        .where(col("vec_id") =!= 0)
        .join(broadcast(lut), Seq("sub", "code"))
        .groupBy("vec_id")
        .agg(round(sum(col("pdot").cast("decimal(28,12)")).cast("double"), 4)
          .as("approx"))
      val cand = approx.orderBy(desc("approx"), col("vec_id")).limit(20)
      val q0 = e.where(col("vec_id") === 0).select(col("v").as("qfull"))
      cand.join(e, "vec_id").crossJoin(broadcast(q0))
        .select(col("vec_id"), col("approx"),
          round(expr("cosine_sim(v, qfull)"), 4).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10)
    }),
    "q_embed_quant" -> ((s, d) => {
      // int8 symmetric quantization — the storage form a 100 TB vector
      // corpus ships: per-vector max-abs scale, code = floor(x/scale*
      // 127 + 0.5), plus reconstruction-error accounting per label.
      // posexplode (codegen) rather than HOF lambdas; the aggregates
      // are chosen order-independent (counts, integer sums, maxes) so
      // the oracle hashes exactly — a sum of double squares would be
      // reduction-order-dependent and is deliberately absent.
      val ex = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(toDouble(col("embedding"))))
        .toDF("vec_id", "label", "pos", "x")
      val scales = ex.groupBy("vec_id").agg(max(abs(col("x"))).as("scale"))
      ex.join(scales, "vec_id")
        .withColumn("code", when(col("scale") === 0, lit(0L))
          .otherwise(floor(col("x") / col("scale") * 127 + 0.5)))
        .withColumn("err", col("x") - col("code") * col("scale") / 127)
        .groupBy("label")
        .agg(count(lit(1)).as("n_vals"),
          max(abs(col("code"))).cast("long").as("max_code"),
          sum(abs(col("code"))).cast("long").as("sum_abs_code"),
          round(max(abs(col("err"))), 6).as("max_abs_err"))
        .orderBy("label")
    }),
    "q_explode_embed" -> ((s, d) => {
      // per-dimension stats across the corpus: posexplode + hash agg
      t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(toDouble(col("embedding"))))
        .toDF("vec_id", "pos", "x")
        .groupBy("pos")
        .agg(round(avg(col("x")), 4).as("mean"),
          round(min(col("x")), 4).as("mn"), round(max(col("x")), 4).as("mx"))
        .orderBy("pos")
    }),
    // -- multimodal column plumbing --------------------------------------
    "q_multimodal_meta" -> ((s, d) => {
      // Opaque binary payload + typed metadata extraction. The "decode"
      // is the deterministic stub (real image/audio decoders aren't in
      // this container); the schema/plumbing is the real operator.
      val b = col("text").cast("binary")
      t(s, d, "documents")
        .select(col("doc_id"), length(b).as("nbytes"),
          (length(b) % 64 + 1).as("w"),
          ((length(b) / 64).cast("int") % 64 + 1).as("h"),
          ascii(substring(col("text"), 1, 1)).as("b0"))
        .orderBy("doc_id")
    }))

  private val toksSql =
    """toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents)"""
  private val shinglesSql =
    """sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [] ELSE list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS gs FROM toks)"""
  private def foldSql(elems: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, $elems), (x, y) -> x + y)"
  /** The routed-ANN proximity-graph CTEs shared by the q_embed_nsw /
    * q_embed_nsw_beam oracles — the engine's [[nswGraph]] topology
    * re-derived in SQL: 12 in-cell NN edges + in-cell skip edges at
    * ranks 16/64/256 + the nearest member of each of 4
    * hash-designated foreign cells (fcid = 1 + ((src mod 3000017) ·
    * 2654435761 + j) mod k, integer-exact in both engines; the r20
    * (12,4) re-pin — MUST track nswGraph's defaults). Expects
    * `assigned` (vec_id, v, cid) and `kk` (k) CTEs upstream. */
  private val nswGraphSql: String = {
    val l2 = foldSql(
      "list_transform(range(1, 65), i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))")
    s"gl AS (SELECT src, dst FROM (SELECT a.vec_id AS src, b.vec_id AS dst, row_number() OVER (PARTITION BY a.vec_id ORDER BY $l2, b.vec_id) AS rk FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id <> b.vec_id AND a.vec_id <> 0 AND b.vec_id <> 0) WHERE rk <= 12 OR rk IN (16, 64, 256)), " +
    s"gf AS (SELECT src, dst FROM (SELECT a.vec_id AS src, b.vec_id AS dst, row_number() OVER (PARTITION BY a.vec_id, t.j ORDER BY $l2, b.vec_id) AS rk FROM assigned a CROSS JOIN range(4) t(j) JOIN assigned b ON b.cid = 1 + ((a.vec_id % 3000017) * 2654435761 + t.j) % (SELECT k FROM kk) AND b.cid <> a.cid AND a.vec_id <> b.vec_id AND a.vec_id <> 0 AND b.vec_id <> 0) WHERE rk = 1), " +
    "g AS MATERIALIZED (SELECT src, dst FROM gl UNION ALL SELECT src, dst FROM gf)"
  }
  /** The q_hybrid_retrieval leg CTEs (BM25 sparse top-20 `sp`, exact
    * cosine dense top-20 `dn`) shared by the retrieval, indexed and
    * NDCG oracles — one definition, no drift. */
  /** The BM25 sparse-leg CTE chain (ends at `sp`, the ranked top-20)
    * — shared by the hybrid oracles and the streamed-postings probe
    * oracle. */
  private val hybridSparseSql: String =
    s"""$toksSql, tokr AS (SELECT doc_id, unnest(tk) AS term FROM toks), tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tokr GROUP BY 1, 2), dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tokr GROUP BY doc_id), df AS (SELECT term, count(*)::BIGINT AS df FROM (SELECT DISTINCT doc_id, term FROM tokr) GROUP BY term), tot AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE AS tt FROM dl), qt AS (SELECT DISTINCT term FROM tokr WHERE doc_id = 0), sp0 AS (SELECT tf.doc_id, sum((round(round(ln((tot.n - df.df + 0.5) / (df.df + 0.5) + 1.0), 6) * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * tot.n / tot.tt)), 4))::DECIMAL(18,4))::DOUBLE AS s_score FROM tf JOIN qt USING (term) JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot WHERE tf.doc_id <> 0 GROUP BY tf.doc_id), sp AS MATERIALIZED (SELECT doc_id, row_number() OVER (ORDER BY s_score DESC, doc_id) AS rs FROM sp0 QUALIFY rs <= 20)"""
  private val hybridLegsSql: String =
    s"""$hybridSparseSql, e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), q AS (SELECT v AS qv FROM e WHERE vec_id = 0), dn0 AS (SELECT e.vec_id AS doc_id, round(${foldSql("list_transform(range(1, 65), i -> e.v[i] * q.qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> e.v[i] * e.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])")})), 4) AS d_score FROM e CROSS JOIN q WHERE e.vec_id <> 0), dn AS MATERIALIZED (SELECT doc_id, row_number() OVER (ORDER BY d_score DESC, doc_id) AS rd FROM dn0 QUALIFY rd <= 20)"""
  /** The full hybrid-retrieval oracle — shared verbatim by
    * q_hybrid_retrieval and q_hybrid_retrieval_indexed (the staged
    * postings/cell indexes answer exactly like the per-run
    * derivation; the ivf_append precedent). */
  private val hybridRetrievalSql: String =
    s"""WITH $hybridLegsSql SELECT coalesce(sp.doc_id, dn.doc_id)::BIGINT AS doc_id, coalesce(rs, 0)::INT AS sparse_rk, coalesce(rd, 0)::INT AS dense_rk, round(coalesce(1.0::DOUBLE / (60 + rs), 0.0::DOUBLE) + coalesce(1.0::DOUBLE / (60 + rd), 0.0::DOUBLE), 6) AS rrf FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id ORDER BY rrf DESC, doc_id LIMIT 10"""
  /** The beam-8 / 8-hop walk's full CTE chain (corpus, cells, graph,
    * entry frontier c0, hop frontiers c1..c8) — shared by the beam
    * gate oracle (which prints the trace) and the recall readout
    * (which scores c8, the final frontier). */
  private val nswBeamCosSql: String =
    s"${foldSql("list_transform(range(1, 65), i -> e.v[i] * q.qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> e.v[i] * e.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])")}))"
  /** The routed-walk shared prefix (corpus, cells, assignment, the
    * navigable graph) — ends at `g`. */
  private val nswChainPrefixSql: String =
    s"""nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings), kk AS MATERIALIZED (SELECT greatest(8, least(4096, (n + 499) // 500)) AS k FROM nn), e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk)), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS MATERIALIZED (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), $nswGraphSql"""
  private val nswBeamChainSql: String = {
    val cos = nswBeamCosSql
    val hops = (1 to 8).map { h =>
        s"c$h AS MATERIALIZED (SELECT $h::INT AS hop, rk, vertex, sc FROM (SELECT e.vec_id AS vertex, $cos AS sc, row_number() OVER (ORDER BY $cos DESC, e.vec_id) AS rk FROM e CROSS JOIN q WHERE e.vec_id IN (SELECT vertex FROM c${h - 1} UNION ALL SELECT g.dst FROM g JOIN c${h - 1} ON g.src = c${h - 1}.vertex)) WHERE rk <= 8)"
      }.mkString(", ")
    s"""$nswChainPrefixSql, q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0), c0 AS MATERIALIZED (SELECT 0::INT AS hop, rk, vertex, sc FROM (SELECT e.vec_id AS vertex, $cos AS sc, row_number() OVER (ORDER BY $cos DESC, e.vec_id) AS rk FROM e CROSS JOIN q WHERE e.vec_id BETWEEN 1 AND (SELECT k FROM kk)) WHERE rk <= 8), $hops"""
  }
  /** The unrolled farthest-point rounds of the q_sample_coreset
    * oracle (argmax pick → center probe → least-update per round),
    * generated so the per-round exact-decimal discipline is written
    * once. `sK` selects from `d(K-1)`; `dK` excludes the pick and
    * min-updates against it. */
  private def coresetStepsSql(steps: Int): String =
    (1 to steps).map { k =>
      val prev = s"d${k - 1}"
      val pick = s"s$k AS MATERIALIZED (SELECT vec_id, md FROM $prev ORDER BY md DESC, vec_id LIMIT 1)"
      if (k == steps) pick
      else pick + s", d$k AS MATERIALIZED (SELECT p.vec_id, least(p.md, n.nd) AS md FROM $prev p JOIN (SELECT e2.vec_id, sum(((e2.x - c.x)::DECIMAL(19,6) * (e2.x - c.x)::DECIMAL(19,6))::DECIMAL(38,12))::DECIMAL(24,12) AS nd FROM ex e2 JOIN (SELECT j, x FROM ex WHERE vec_id = (SELECT vec_id FROM s$k)) c ON e2.j = c.j GROUP BY e2.vec_id) n ON n.vec_id = p.vec_id WHERE p.vec_id <> (SELECT vec_id FROM s$k))"
    }.mkString(", ")

  /** The six unrolled power-iteration steps of the q_embed_pca oracle
    * (exact-decimal mat-vec → integer-rounded output → exact-square
    * norm → normalize per step), generated so the per-step float
    * discipline is written once and cannot drift between steps. */
  private def pcaStepsSql(steps: Int): String =
    (1 to steps).map { t =>
      val p = if (t == 1) "v0" else s"v${t - 1}"
      s"w$t AS (SELECT cov.j, round(sum((mjk * p.vj)::DECIMAL(33,18)), 0)::DECIMAL(15,0) AS wj FROM cov JOIN $p p ON cov.k = p.j GROUP BY cov.j), " +
      s"n$t AS (SELECT sqrt(sum((wj::DECIMAL(19,0) * wj::DECIMAL(19,0))::DECIMAL(38,0))::DOUBLE) AS nrm FROM w$t), " +
      s"v$t AS (SELECT j, round(wj::DOUBLE / (SELECT nrm FROM n$t), 6)::DECIMAL(8,6) AS vj FROM w$t)"
    }.mkString(", ")
  /** The shared q_embed_pca oracle body. `src` is the (vec_id,
    * embedding) relation (default the raw table; the sampled entry
    * passes a MATERIALIZED prefix CTE — a scalar-subquery predicate
    * left inline gets re-inlined with `e` through the six power
    * steps and measured >100× slower in DuckDB); `prefixCtes` is
    * emitted verbatim right after WITH; `extraCols` appends to the
    * final SELECT. */
  private def pcaOracleSql(src: String = "embeddings",
                           extraCols: String = "",
                           prefixCtes: String = ""): String =
    s"""WITH ${prefixCtes}e AS (SELECT vec_id, j, round(va[j], 6)::DECIMAL(18,6) AS x FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS va FROM $src) CROSS JOIN LATERAL (SELECT unnest(range(1, 65)) AS j) r), g AS (SELECT j, sum(x)::DECIMAL(24,6) AS sx, count(*)::DECIMAL(6,0) AS n FROM e GROUP BY j), y AS (SELECT vec_id, e.j, (x * n - sx)::DECIMAL(18,6) AS y FROM e JOIN g ON e.j = g.j), cov AS (SELECT a.j, b.j AS k, sum((a.y::DECIMAL(19,6) * b.y::DECIMAL(19,6))::DECIMAL(38,12))::DECIMAL(24,12) AS mjk FROM y a JOIN y b ON a.vec_id = b.vec_id GROUP BY a.j, b.j), nn AS (SELECT count(*)::DOUBLE AS n FROM $src), v0 AS (SELECT unnest(range(1, 65))::BIGINT AS j, 0.125::DECIMAL(8,6) AS vj), ${pcaStepsSql(6)} SELECT j::INT AS dim, vj::DOUBLE AS loading, (SELECT round(nrm / (n * n * n), 6) FROM n6 CROSS JOIN nn) AS eigenvalue$extraCols FROM v6 ORDER BY dim"""

  /** Quality-score CTE chain (mirrors
    * [[graft.functions.TextFunctions.qualityScore]]); terminal CTE
    * `qscore(doc_id, score)` with the 4-decimal-rounded composite
    * score. ONE definition shared by q_text_quality and
    * q_sample_weighted so the two oracles cannot drift. LAZY: it
    * interpolates `stopEn`, which is declared further down the object
    * — a strict val here would capture null at init order. */
  private lazy val qualityScoreSql =
    s"""$toksSql, m AS (SELECT d.doc_id, least(length(d.text)::DOUBLE / 500.0, 1.0) AS len_score, 1.0 - least(((length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / greatest(length(d.text), 1)::DOUBLE) * 5.0, 1.0) AS punct_score, least((len(list_filter(t.tk, x -> x IN ($stopEn)))::DOUBLE / greatest(len(t.tk), 1)::DOUBLE) * 4.0, 1.0) AS stop_score, CASE WHEN (length(regexp_replace(trim(lower(d.text)), '\\s+', '', 'g'))::DOUBLE / greatest(len(t.tk), 1)::DOUBLE) BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.5 END AS tok_score FROM documents d JOIN toks t ON d.doc_id = t.doc_id), qscore AS (SELECT doc_id, round(len_score * 0.3 + punct_score * 0.3 + stop_score * 0.2 + tok_score * 0.2, 4) AS score FROM m)"""

  /** MinHash signature-component + band CTE chain (mirrors
    * [[Dedup.minhashSignatures]]); terminal CTEs `comp(doc_id, seed,
    * c)` and `bands(doc_id, band_id, bkey)`. */
  /** Analytic any-band collision probability of the k=16/b=4/r=4
    * banding at the decile-d midpoint Jaccard j = (2d+1)/20:
    * 1 − (1 − j⁴)⁴ in exact BigDecimal arithmetic, rounded half-up to
    * ppm — evaluated ONCE here and embedded as identical literals in
    * the q_dedup_lsh_curve engine plan and oracle SQL (the Benford
    * literal-expected-table precedent). */
  /** Sampled ground-truth pair table for the LSH banding audit
    * (q_dedup_lsh_curve): a content-keyed 1/8 doc sample — the key is
    * md5 OF the doc's lexicographic-min shingle, not min-of-md5s (the
    * minimum of ~150 hashes is an extreme order statistic whose first
    * hex digit is almost surely '0'; measured: a min-of-md5 key kept
    * 99% of the corpus). Near-dups almost surely SHARE their min
    * shingle, so whole near-dup families sample in or out together —
    * pair retention ≈ s where an id-keyed sample's is s² (measured:
    * every sf0.01 near-dup pair lost at 1/37). Per sampled pair, the
    * exact-Jaccard decile = 10·inter div union in pure integers.
    *
    * The pair self-join carries a shingle DOCUMENT-FREQUENCY cap
    * (r14 verdict item 3): a shingle shared by k sampled docs
    * contributes k² join rows, so one stopword shingle with df ~
    * |sample| makes the truth join quadratic in the corpus. Shingle
    * TYPES with df > dfCap are excluded from BOTH the intersection
    * and the set sizes — the standard stopword-filtered Jaccard truth
    * universe, applied identically in the DuckDB oracle — and the
    * excluded-type count rides on every row as `n_sh_capped` (the
    * no-silent-caps rule). At organic fixture density no shingle
    * reaches the cap, so capped ≡ uncapped (spec-pinned); on a
    * stopword-shingle corpus the join volume is bounded by
    * |sample|·dfCap per shingle type (adversarial spec).
    * Output: (doc_a, doc_b, decile, n_sh_capped); pairs with zero
    * shared (kept) shingles are out of frame — their analytic
    * p(0⁺) ≈ 0 and they can only collide by md5 accident. */
  private[graft] def lshTruthPairs(s: SparkSession, docs: DataFrame,
                                   dfCap: Int = 256): DataFrame = {
    val allSh = Dedup.shingleRows(docs, 3)
      .select("doc_id", "g").distinct()
      .localCheckpoint(true) // sample keys + df census + sampled join
    val sampleIds = allSh.groupBy("doc_id")
      .agg(md5(min(col("g"))).as("sk"))
      .where(substring(col("sk"), 1, 1).isin("0", "1"))
      .select("doc_id")
    val ss0 = allSh.join(sampleIds, "doc_id")
    val dft = ss0.groupBy("g").agg(count(lit(1)).as("df"))
      .localCheckpoint(true) // capped census + keep filter
    val nCapped = dft.where(col("df") > dfCap)
      .agg(count(lit(1)).as("n_sh_capped"))
    val ss = ss0.join(dft.where(col("df") <= dfCap).select("g"), "g")
      .localCheckpoint(true) // sizes + the pair self-join
    val nsh = ss.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ss.as("a").join(ss.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(nsh.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(nsh.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        least(lit(9L), expr("inter * 10 div (na + nb - inter)")).as("decile"))
      .crossJoin(broadcast(nCapped))
  }

  private[queries] def lshAnalyticPpm(d: Int): Long = {
    val one = java.math.BigDecimal.ONE
    val j = new java.math.BigDecimal(2 * d + 1)
      .divide(new java.math.BigDecimal(20))
    val p = one.subtract(one.subtract(j.pow(4)).pow(4))
    p.multiply(new java.math.BigDecimal(1000000))
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
  }

  private val minhashSigSql =
    s"""$toksSql, $shinglesSql, shr AS (SELECT doc_id, unnest(gs) AS g FROM sh), comp AS (SELECT doc_id, b.b * 4 + j.j AS seed, min(substr(md5(b.b::VARCHAR || '|' || g), j.j * 8 + 1, 8)) AS c FROM shr CROSS JOIN (SELECT unnest(range(4)) AS b) b CROSS JOIN (SELECT unnest(range(4)) AS j) j GROUP BY doc_id, b.b * 4 + j.j), bands AS (SELECT doc_id, seed // 4 AS band_id, string_agg(c, '' ORDER BY seed) AS bkey FROM comp GROUP BY doc_id, seed // 4)"""
  /** MinHash signature → band → candidate-pair → estimate CTE chain
    * (mirrors [[Dedup.minhashPairs]]); terminal CTE `est(doc_a, doc_b,
    * est0)`. */
  /** Blockhash perceptual-hash CTE chain (mirrors [[phashPairs]]);
    * terminal CTE `phsc(doc_a, doc_b, dist)` holding every band-
    * colliding pair with its 64-bit hamming distance. */
  private val phashPairsSql =
    ("""phb0 AS (SELECT doc_id, length(text) AS nb, unnest(range(length(text))) AS i, text FROM documents WHERE length(text) > 0), phby AS (SELECT doc_id, (i * 64) // nb AS seg, ascii(substr(text, i + 1, 1))::BIGINT AS b FROM phb0), phsg AS (SELECT doc_id, seg, sum(b)::BIGINT AS ssum FROM phby GROUP BY 1, 2), phbits AS (SELECT doc_id, seg, CASE WHEN ssum * 64 > sum(ssum) OVER (PARTITION BY doc_id) THEN 1::BIGINT ELSE 0::BIGINT END AS bit FROM phsg), phh AS (SELECT doc_id, """ +
      (0 until 4).map(j =>
        s"sum(CASE WHEN seg // 16 = $j THEN bit << (seg % 16)::INT ELSE 0 END)::BIGINT AS p$j").mkString(", ") +
      """ FROM phbits GROUP BY doc_id), phpr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p0 AS a0, a.p1 AS a1, a.p2 AS a2, a.p3 AS a3, b.p0 AS b0, b.p1 AS b1, b.p2 AS b2, b.p3 AS b3 FROM phh a JOIN phh b ON a.doc_id < b.doc_id AND (a.p0 = b.p0 OR a.p1 = b.p1 OR a.p2 = b.p2 OR a.p3 = b.p3)), phsc AS (SELECT doc_a, doc_b, (bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)))::INT AS dist FROM phpr)""")

  private val minhashEstSql =
    s"""$minhashSigSql, pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id), est AS (SELECT p.doc_a, p.doc_b, (SELECT count(*) FROM comp x JOIN comp y ON x.seed = y.seed AND x.c = y.c WHERE x.doc_id = p.doc_a AND y.doc_id = p.doc_b)::DOUBLE / 16.0 AS est0 FROM pairs p)"""
  /** Banded-LSH bucket → any-band candidate-pair → exact-cosine CTE
    * chain (mirrors [[embedLshPairs]]: 4 bands × 8 of the same
    * md5-derived ±1 planes as [[graft.operators.Similarity.lshPlane]],
    * global plane index p, band p//8, bit p%8); terminal CTE
    * `pr(i, j, c)` holding pairs with round(c, 4) >= 0.4. */
  private val embedPairsSql =
    s"""s AS (SELECT p, list(CASE WHEN substr(md5(p::VARCHAR || '|' || i::VARCHAR), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv FROM range(32) tp(p) CROSS JOIN range(64) ti(i) GROUP BY p), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), dt AS (SELECT vec_id, p, ${foldSql("list_transform(range(1, 65), i -> v[i] * sv[i])")} AS dot FROM e CROSS JOIN s), bk AS (SELECT vec_id, p // 8 AS band_id, CASE WHEN bool_or(dot IS NULL) THEN NULL ELSE sum(CASE WHEN dot >= 0 THEN (1 << (p % 8)) ELSE 0 END)::BIGINT END AS bucket FROM dt GROUP BY vec_id, p // 8), eb AS (SELECT e.vec_id, e.v, bk.band_id, bk.bucket FROM e JOIN bk USING (vec_id)), cp AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j FROM eb a JOIN eb b ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id), p AS (SELECT cp.i, cp.j, ${foldSql("list_transform(range(1, 65), i -> ea.v[i] * eb2.v[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> ea.v[i] * ea.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> eb2.v[i] * eb2.v[i])")})) AS c FROM cp JOIN e ea ON ea.vec_id = cp.i JOIN e eb2 ON eb2.vec_id = cp.j), pr AS (SELECT i, j, c FROM p WHERE round(c, 4) >= 0.4)"""

  private val stopEn = "'the','a','of','and','to','in','is','it'"
  private val stopEs = "'el','la','de','y','en','es','un','que'"
  private val stopDe = "'der','die','das','und','ist','ein','zu','den'"
  private val stopFr = "'le','la','de','et','est','un','que','les'"

  val oracles: Map[String, String] = Map(
    "q_text_stats" ->
      s"""WITH $toksSql SELECT d.doc_id, len(t.tk)::INT AS tok_cnt, length(d.text)::INT AS nchars, round((length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / greatest(length(d.text), 1)::DOUBLE, 4) AS punct_ratio, round(len(list_filter(t.tk, x -> x IN ($stopEn)))::DOUBLE / greatest(len(t.tk), 1)::DOUBLE, 4) AS stop_ratio FROM documents d JOIN toks t ON d.doc_id = t.doc_id ORDER BY d.doc_id""",
    "q_text_langid_acc" ->
      s"""WITH $toksSql, hits AS (SELECT doc_id, len(list_filter(tk, x -> x IN ($stopEn))) AS en, len(list_filter(tk, x -> x IN ($stopEs))) AS es, len(list_filter(tk, x -> x IN ($stopDe))) AS de, len(list_filter(tk, x -> x IN ($stopFr))) AS fr FROM toks), g AS (SELECT doc_id, CASE WHEN greatest(en,es,de,fr) = 0 THEN 'und' WHEN en = greatest(en,es,de,fr) THEN 'en' WHEN es = greatest(en,es,de,fr) THEN 'es' WHEN de = greatest(en,es,de,fr) THEN 'de' ELSE 'fr' END AS lang_guess FROM hits) SELECT d.lang, g.lang_guess, count(*)::BIGINT AS n FROM documents d JOIN g ON d.doc_id = g.doc_id GROUP BY d.lang, g.lang_guess ORDER BY d.lang, g.lang_guess""",
    "q_text_langid" ->
      s"""WITH $toksSql, hits AS (SELECT doc_id, len(list_filter(tk, x -> x IN ($stopEn))) AS en, len(list_filter(tk, x -> x IN ($stopEs))) AS es, len(list_filter(tk, x -> x IN ($stopDe))) AS de, len(list_filter(tk, x -> x IN ($stopFr))) AS fr FROM toks), g AS (SELECT doc_id, CASE WHEN greatest(en,es,de,fr) = 0 THEN 'und' WHEN en = greatest(en,es,de,fr) THEN 'en' WHEN es = greatest(en,es,de,fr) THEN 'es' WHEN de = greatest(en,es,de,fr) THEN 'de' ELSE 'fr' END AS lang_guess FROM hits) SELECT lang_guess, count(*)::BIGINT AS cnt FROM g GROUP BY lang_guess ORDER BY lang_guess""",
    "q_text_quality" ->
      s"""WITH $qualityScoreSql SELECT doc_id, score FROM qscore ORDER BY doc_id""",
    // same four independent rule flags, same bit_xor kept fingerprint
    "q_text_c4_filters" ->
      s"""WITH $toksSql, f AS (SELECT d.source, d.text, contains(d.text, '{') AS r_brace, contains(lower(d.text), 'lorem ipsum') AS r_lorem, (len(list_filter(string_split_regex(d.text, '[.!?]'), x -> length(trim(x)) > 0)) < 3) AS r_sent, (len(t.tk) < 5) AS r_words FROM documents d JOIN toks t ON d.doc_id = t.doc_id) SELECT source, count(*)::BIGINT AS n_docs, sum(CASE WHEN r_brace THEN 1 ELSE 0 END)::BIGINT AS n_brace, sum(CASE WHEN r_lorem THEN 1 ELSE 0 END)::BIGINT AS n_lorem, sum(CASE WHEN r_sent THEN 1 ELSE 0 END)::BIGINT AS n_short_sent, sum(CASE WHEN r_words THEN 1 ELSE 0 END)::BIGINT AS n_few_words, sum(CASE WHEN NOT r_brace AND NOT r_lorem AND NOT r_sent AND NOT r_words THEN 1 ELSE 0 END)::BIGINT AS n_kept, bit_xor(CASE WHEN NOT r_brace AND NOT r_lorem AND NOT r_sent AND NOT r_words THEN ('0x' || substr(md5(text), 1, 12))::BIGINT ELSE 0 END)::BIGINT AS kept_fp FROM f GROUP BY source ORDER BY source""",
    "q_text_fingerprint" ->
      """SELECT doc_id, list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))::BIGINT)), (acc, c) -> (acc * 31 + c) % 1000000007) AS fp FROM documents ORDER BY doc_id""",
    "q_text_tfidf" ->
      s"""WITH $toksSql, tokr AS (SELECT doc_id, unnest(tk) AS term FROM toks), tf AS (SELECT doc_id, term, count(*) AS tf FROM tokr GROUP BY 1, 2), df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tokr) GROUP BY term), sc AS (SELECT tf.doc_id, tf.term, round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df.df), 4) AS score0 FROM tf JOIN df USING (term)), rk AS (SELECT doc_id, term, score0, row_number() OVER (PARTITION BY doc_id ORDER BY score0 DESC, term)::INT AS rk FROM sc) SELECT doc_id, term, score0 AS score, rk FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""",
    // same anchored one-match-per-pattern regex chain, same injection
    "q_dedup_url" ->
      """WITH u AS (SELECT doc_id, CASE doc_id % 4 WHEN 0 THEN 'https://www.example.com/p/' || (doc_id % 50) WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM/p/' || (doc_id % 50) || '/' WHEN 2 THEN 'https://example.com/p/' || (doc_id % 50) || '?utm_source=feed&utm_campaign=x' ELSE 'http://www.example.com/p/' || (doc_id % 50) || '#section' END AS url FROM documents), c AS (SELECT doc_id, url, regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(url), '#.*$', ''), '\?utm[^#]*$', ''), '^https?://(www\.)?', ''), '/$', '') AS canon FROM u) SELECT canon, count(*)::BIGINT AS n_docs, count(DISTINCT url)::BIGINT AS n_variants, min(doc_id)::BIGINT AS keeper FROM c GROUP BY canon ORDER BY canon""",
    // same exact-integer inputs, same idf round(6), same single
    // parenthesization of the saturation/length-norm expression
    "q_text_bm25" ->
      s"""WITH $toksSql, tokr AS (SELECT doc_id, unnest(tk) AS term FROM toks), tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tokr GROUP BY 1, 2), dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tokr GROUP BY doc_id), df AS (SELECT term, count(*)::BIGINT AS df FROM (SELECT DISTINCT doc_id, term FROM tokr) GROUP BY term), tot AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE AS tt FROM dl), sc AS (SELECT tf.doc_id, tf.term, round(round(ln((tot.n - df.df + 0.5) / (df.df + 0.5) + 1.0), 6) * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * tot.n / tot.tt)), 4) AS score0 FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN tot), rk AS (SELECT doc_id, term, score0, row_number() OVER (PARTITION BY doc_id ORDER BY score0 DESC, term)::INT AS rk FROM sc) SELECT doc_id, term, score0 AS score, rk FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""",
    // same BM25 recipe restricted to doc-0's terms, decimal-summed per
    // doc; same cosine leg; both legs rank top-20 (QUALIFY) and fuse
    // by RRF with ::DOUBLE forced (DuckDB's bare 1.0 is DECIMAL and
    // decimal division would diverge from Spark's double)
    "q_hybrid_retrieval" -> hybridRetrievalSql,
    // identical semantics by construction — the staged postings /
    // cell-index probes answer exactly like the per-run derivation
    // (bound-pruned dense probe is EXACT; ivf_append precedent), so
    // the scan-bound SQL oracles the indexed entry too
    "q_hybrid_retrieval_indexed" -> hybridRetrievalSql,
    // same legs cut to top-10; qrels = the dense (exact cosine)
    // top-10; w(r) = round(1/log2(r+1), 8) (far from half-boundaries
    // for r <= 10 in both engines), DCG/IDCG decimal-summed, one
    // final double division round(6); MRR one exact division
    "q_hybrid_ndcg" ->
      s"""WITH $hybridLegsSql, fus AS MATERIALIZED (SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id, round(coalesce(1.0::DOUBLE / (60 + rs), 0.0::DOUBLE) + coalesce(1.0::DOUBLE / (60 + rd), 0.0::DOUBLE), 6) AS rrf FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id), fr AS MATERIALIZED (SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS r FROM fus QUALIFY r <= 10), qrel AS MATERIALIZED (SELECT doc_id FROM dn WHERE rd <= 10), sys AS (SELECT 'sparse' AS system, doc_id, rs AS r FROM sp WHERE rs <= 10 UNION ALL SELECT 'dense' AS system, doc_id, rd AS r FROM dn WHERE rd <= 10 UNION ALL SELECT 'fusion' AS system, doc_id, r FROM fr), rels AS (SELECT sys.system, sys.r, CASE WHEN qrel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel, round(1.0::DOUBLE / log2(sys.r + 1), 8) AS w FROM sys LEFT JOIN qrel ON sys.doc_id = qrel.doc_id), idcg AS MATERIALIZED (SELECT sum(round(1.0::DOUBLE / log2(rd + 1), 8)::DECIMAL(18,8)) AS idcg FROM dn WHERE rd <= 10) SELECT system, sum(rel)::BIGINT AS hits, round(coalesce(1.0::DOUBLE / min(CASE WHEN rel = 1 THEN r END), 0.0::DOUBLE), 6) AS mrr, round(sum((CASE WHEN rel = 1 THEN w ELSE 0.0::DOUBLE END)::DECIMAL(18,8))::DOUBLE / (SELECT idcg FROM idcg)::DOUBLE, 6) AS ndcg FROM rels GROUP BY system ORDER BY system""",
    "q_text_tokens_bpe" ->
      """SELECT doc_id, len(string_split_regex(trim(lower(text)), '\s+'))::INT AS ws_tokens, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::INT AS bpe_tokens, round(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::DOUBLE / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1)::DOUBLE, 4) AS ratio FROM documents ORDER BY doc_id""",
    "q_dedup_pipeline" ->
      (s"""WITH $toksSql, $shinglesSql, shr AS (SELECT doc_id, unnest(gs) AS g FROM sh), comp AS (SELECT doc_id, b.b * 4 + j.j AS seed, min(substr(md5(b.b::VARCHAR || '|' || g), j.j * 8 + 1, 8)) AS c FROM shr CROSS JOIN (SELECT unnest(range(4)) AS b) b CROSS JOIN (SELECT unnest(range(4)) AS j) j GROUP BY doc_id, b.b * 4 + j.j), bands AS (SELECT doc_id, seed // 4 AS band_id, string_agg(c, '' ORDER BY seed) AS bkey FROM comp GROUP BY doc_id, seed // 4), pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id), est AS (SELECT p.doc_a, p.doc_b, (SELECT count(*) FROM comp x JOIN comp y ON x.seed = y.seed AND x.c = y.c WHERE x.doc_id = p.doc_a AND y.doc_id = p.doc_b)::DOUBLE / 16.0 AS est0 FROM pairs p), """ +
        """exact_losers AS (SELECT doc_id FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM documents) WHERE doc_id <> keeper), near_losers AS (SELECT DISTINCT doc_b AS doc_id FROM est WHERE est0 >= 0.5 AND doc_b NOT IN (SELECT doc_id FROM exact_losers)) SELECT (SELECT count(*) FROM documents)::BIGINT AS n_total, (SELECT count(*) FROM exact_losers)::BIGINT AS n_exact_dropped, (SELECT count(*) FROM near_losers)::BIGINT AS n_near_dropped, ((SELECT count(*) FROM documents) - (SELECT count(*) FROM exact_losers) - (SELECT count(*) FROM near_losers))::BIGINT AS n_kept"""),
    "q_dedup_exact" ->
      """SELECT substr(md5(text), 1, 16) AS h, min(doc_id)::BIGINT AS keeper, count(*)::BIGINT AS cnt FROM documents GROUP BY 1 ORDER BY h""",
    // same digest slices, same auto-m (smallest power of two >= 16n,
    // clamped — re-derived from the corpus count), same all-positions-
    // present flag and integer-ppm FP census
    "q_dedup_bloom" ->
      """WITH dd AS MATERIALIZED (SELECT doc_id, md5(text) AS dg, ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 16 = 5 AS arr FROM documents), nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM dd WHERE NOT arr), mm AS MATERIALIZED (SELECT greatest(16384, least(16777216, 1::BIGINT << length(bin(16 * n - 1))))::BIGINT AS m FROM nn), cpos AS MATERIALIZED (SELECT DISTINCT p % (SELECT m FROM mm) AS pos FROM (SELECT unnest([('0x' || substr(dg, 1, 6))::BIGINT, ('0x' || substr(dg, 9, 6))::BIGINT, ('0x' || substr(dg, 17, 6))::BIGINT]) AS p FROM dd WHERE NOT arr)), apos AS MATERIALIZED (SELECT DISTINCT doc_id, p % (SELECT m FROM mm) AS pos FROM (SELECT doc_id, unnest([('0x' || substr(dg, 1, 6))::BIGINT, ('0x' || substr(dg, 9, 6))::BIGINT, ('0x' || substr(dg, 17, 6))::BIGINT]) AS p FROM dd WHERE arr)), pr AS (SELECT a.doc_id, count(*) AS np, sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS nh FROM apos a LEFT JOIN cpos c ON a.pos = c.pos GROUP BY a.doc_id), du AS (SELECT DISTINCT doc_id FROM dd WHERE arr AND dg IN (SELECT dg FROM dd WHERE NOT arr)), ag AS (SELECT count(*)::BIGINT AS n_arrivals, sum(CASE WHEN pr.np = pr.nh THEN 1 ELSE 0 END)::BIGINT AS n_flagged, sum(CASE WHEN du.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_true_dup, sum(CASE WHEN pr.np = pr.nh AND du.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_false_pos FROM pr LEFT JOIN du ON pr.doc_id = du.doc_id) SELECT (SELECT n FROM nn) AS n_corpus, (SELECT m FROM mm) AS m_bits, n_arrivals, n_flagged, n_true_dup, n_false_pos, (n_false_pos * 1000000 // greatest(1, n_arrivals - n_true_dup))::BIGINT AS fpr_ppm FROM ag""",
    "q_multimodal_resize" ->
      """SELECT doc_id, length(text)::INT AS orig_bytes, ((length(text) + 3) // 4)::INT AS resized_bytes, md5(array_to_string(list_transform(range(1, length(text) + 1, 4), i -> substr(text, i, 1)), '')) AS h FROM documents ORDER BY doc_id""",
    "q_multimodal_dedup" ->
      """WITH h AS (SELECT doc_id, md5(text) AS digest, length(text)::INT AS nbytes FROM documents), g AS (SELECT digest, count(*)::BIGINT AS n_copies, min(doc_id) AS keeper, max(nbytes) AS nbytes FROM h GROUP BY digest) SELECT digest, n_copies, keeper, ((n_copies - 1) * nbytes)::BIGINT AS bytes_reclaimed FROM g WHERE n_copies >= 2 ORDER BY keeper""",
    "q_multimodal_hist" ->
      ("""WITH tr0 AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text FROM documents), tr AS (SELECT doc_id, ascii(substr(text, i, 1)) // 32 AS bin FROM tr0) SELECT doc_id, """ +
        (0 until 8).map(k => s"sum(CASE WHEN bin = $k THEN 1 ELSE 0 END)::BIGINT AS b$k").mkString(", ") +
        """ FROM tr GROUP BY doc_id ORDER BY doc_id"""),
    // same integer blockhash (seg = i·64 // nb, bit = ssum·64 > total),
    // same 4×16-bit bands, same any-band candidate rule + popcount
    "q_multimodal_phash" ->
      s"""WITH $phashPairsSql SELECT doc_a, doc_b, dist FROM phsc WHERE dist <= 3 ORDER BY doc_a, doc_b""",
    // image pairs (blockhash hamming <= 3) FULL OUTER text pairs
    // (minhash est >= 0.25); one conditional agg; exact integer ppm
    // with the empty-union guard matching the engine
    "q_multimodal_agree" ->
      s"""WITH $minhashEstSql, $phashPairsSql, txp AS (SELECT doc_a, doc_b FROM est WHERE est0 >= 0.25), imp AS (SELECT doc_a, doc_b FROM phsc WHERE dist <= 3), u AS (SELECT (i.doc_a IS NOT NULL)::INT AS im, (t.doc_a IS NOT NULL)::INT AS tx FROM imp i FULL OUTER JOIN txp t ON i.doc_a = t.doc_a AND i.doc_b = t.doc_b), g AS (SELECT coalesce(sum(im), 0)::BIGINT AS n_image, coalesce(sum(tx), 0)::BIGINT AS n_text, coalesce(sum(im * tx), 0)::BIGINT AS n_both, count(*)::BIGINT AS n_union FROM u) SELECT n_image, n_text, n_both, n_union, (CASE WHEN n_union = 0 THEN 0 ELSE n_both * 1000000 // n_union END)::BIGINT AS agree_ppm FROM g""",
    "q_text_chunks" ->
      s"""WITH $toksSql, tr0 AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS i, tk FROM toks), tr AS (SELECT doc_id, (i - 1)::BIGINT AS pos, tk[i] AS tok FROM tr0), ch AS (SELECT doc_id, pos // 50 AS chunk, count(*) AS n_toks, substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 16) AS h FROM tr GROUP BY 1, 2) SELECT doc_id, count(*)::BIGINT AS n_chunks, sum(n_toks)::BIGINT AS n_toks, max(CASE WHEN chunk = 0 THEN h END) AS h0 FROM ch GROUP BY doc_id ORDER BY doc_id""",
    "q_text_pack" ->
      s"""WITH $toksSql, tc AS (SELECT d.doc_id, d.lang, len(t.tk)::BIGINT AS tc FROM documents d JOIN toks t ON d.doc_id = t.doc_id), c AS (SELECT doc_id, lang, tc, coalesce(sum(tc) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM tc) SELECT lang, (cum // 512)::BIGINT AS bin, count(*)::BIGINT AS n_docs, sum(tc)::BIGINT AS n_toks, min(doc_id)::BIGINT AS first_doc FROM c GROUP BY 1, 2 ORDER BY lang, bin""",
    // one exclusive prefix sum of payload bytes per source; payload =
    // utf-8 text bytes (octet_length, matching Spark's binary cast)
    "q_multimodal_shard" ->
      """WITH b AS (SELECT doc_id, source, octet_length(encode(text))::BIGINT AS nb FROM documents), c AS (SELECT doc_id, source, nb, coalesce(sum(nb) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM b) SELECT source, (cum // 65536)::BIGINT AS shard, count(*)::BIGINT AS n_docs, sum(nb)::BIGINT AS bytes, min(doc_id)::BIGINT AS first_doc, max(doc_id)::BIGINT AS last_doc FROM c GROUP BY 1, 2 ORDER BY source, shard""",
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $minhashEstSql, p2 AS (SELECT doc_a, doc_b FROM est WHERE est0 >= 0.5), e AS (SELECT doc_a AS src, doc_b AS dst FROM p2 UNION ALL SELECT doc_b, doc_a FROM p2), r AS (SELECT src AS a, src AS b FROM e UNION SELECT r.a, e.dst FROM r JOIN e ON e.src = r.b), cmp AS (SELECT a AS vertex, min(b) AS component FROM r GROUP BY a) SELECT component, count(*)::BIGINT AS sz, max(vertex)::BIGINT AS max_doc FROM cmp GROUP BY component ORDER BY component""",
    "q_sample_leakage" ->
      """WITH sp AS (SELECT doc_id, md5(text) AS h, CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '0d' THEN 'test' WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '1a' THEN 'val' ELSE 'train' END AS split FROM documents), ph AS (SELECT h, sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT AS n_train, sum(CASE WHEN split <> 'train' THEN 1 ELSE 0 END)::BIGINT AS n_eval FROM sp GROUP BY h) SELECT sum(n_train)::BIGINT AS n_train_docs, sum(n_eval)::BIGINT AS n_eval_docs, sum(CASE WHEN n_train > 0 AND n_eval > 0 THEN 1 ELSE 0 END)::BIGINT AS n_leaking_texts, sum(n_train * n_eval)::BIGINT AS n_leaked_pairs FROM ph""",
    "q_text_dupe_stats" ->
      """WITH h AS (SELECT source, md5(text) AS h, count(*)::BIGINT AS n FROM documents GROUP BY source, md5(text)) SELECT source, sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_distinct, max(n)::BIGINT AS max_clones, round((sum(n) - count(*))::DOUBLE / sum(n), 4) AS dup_ratio FROM h GROUP BY source ORDER BY source""",
    "q_sample_split" ->
      """WITH h AS (SELECT doc_id, lang, substr(md5(doc_id::VARCHAR), 1, 2) AS h FROM documents), sp AS (SELECT doc_id, lang, CASE WHEN h < '0d' THEN 'test' WHEN h < '1a' THEN 'val' ELSE 'train' END AS split FROM h) SELECT split, lang, count(*)::BIGINT AS cnt, min(doc_id)::BIGINT AS first_doc FROM sp GROUP BY split, lang ORDER BY split, lang""",
    "q_sample_stratified" ->
      """WITH r AS (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY lang, source ORDER BY md5(doc_id::VARCHAR), doc_id)::INT AS rk FROM documents) SELECT doc_id, lang, source, rk FROM r WHERE rk <= 40 ORDER BY lang, source, rk""",
    // same exact power sums, same double-space N·Σv²−(Σv)² under one
    // sqrt rounded 2 (the magnitude-aware exception — see the engine
    // side), same floor'd budget share, same hash-rank quota
    "q_sample_neyman" ->
      """WITH li AS (SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice AS v FROM lineitem), st AS (SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS nh, sum(v::DECIMAL(18,2)) AS s1, sum((v*v)::DECIMAL(24,4)) AS s2 FROM li GROUP BY 1, 2), w AS (SELECT l_returnflag, l_linestatus, nh, round(sqrt(nh::DOUBLE * s2::DOUBLE - s1::DOUBLE * s1::DOUBLE), 2) AS w FROM st), tt AS (SELECT sum(w::DECIMAL(24,2))::DOUBLE AS sumw FROM w), al AS (SELECT l_returnflag, l_linestatus, nh, w, floor(1000 * w / (SELECT sumw FROM tt))::BIGINT AS alloc FROM w), rk AS (SELECT l_returnflag, l_linestatus, v, row_number() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY md5(l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR), l_orderkey, l_linenumber) AS rk FROM li), sel AS (SELECT r.l_returnflag, r.l_linestatus, count(*)::BIGINT AS n_sel, round(sum(r.v::DECIMAL(18,2))::DOUBLE / count(*), 4) AS mean_v FROM rk r JOIN al ON r.l_returnflag = al.l_returnflag AND r.l_linestatus = al.l_linestatus WHERE r.rk <= al.alloc GROUP BY 1, 2) SELECT al.l_returnflag, al.l_linestatus, al.nh AS n_h, al.w, al.alloc, coalesce(sel.n_sel, 0)::BIGINT AS n_sel, sel.mean_v FROM al LEFT JOIN sel ON al.l_returnflag = sel.l_returnflag AND al.l_linestatus = sel.l_linestatus ORDER BY 1, 2""",
    "q_sample_budget" ->
      s"""WITH $toksSql, n AS (SELECT d.doc_id, d.lang, len(t.tk)::BIGINT AS ntok FROM documents d JOIN toks t ON d.doc_id = t.doc_id), c AS (SELECT doc_id, lang, ntok, coalesce(sum(ntok) OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM n) SELECT lang, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens, min(doc_id)::BIGINT AS first_doc FROM c WHERE before < 2000 GROUP BY lang ORDER BY lang""",
    "q_text_boilerplate" ->
      s"""WITH $toksSql, $shinglesSql, g AS (SELECT doc_id, md5(unnest(gs)) AS h FROM sh), dfq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h), st AS (SELECT g.doc_id, count(*)::BIGINT AS n_sh, sum(CASE WHEN dfq.nd >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_boiler FROM g JOIN dfq ON g.h = dfq.h GROUP BY g.doc_id) SELECT d.doc_id, coalesce(st.n_sh, 0)::BIGINT AS n_sh, coalesce(st.n_boiler, 0)::BIGINT AS n_boiler, round(coalesce(st.n_boiler / st.n_sh, 0.0), 4) AS boiler_frac, (CASE WHEN round(coalesce(st.n_boiler / st.n_sh, 0.0), 4) > 0.5 THEN 1 ELSE 0 END)::INT AS flagged FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id ORDER BY d.doc_id""",
    "q_sample_weighted" ->
      s"""WITH $qualityScoreSql, uu AS (SELECT doc_id, score, ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT::DOUBLE / 16777216.0 AS u FROM qscore) SELECT doc_id, score FROM uu WHERE u < score ORDER BY doc_id""",
    "q_text_lmscore" ->
      s"""WITH $toksSql, tokr AS (SELECT doc_id, unnest(tk) AS tok FROM toks), freq AS (SELECT tok, count(*) AS cnt FROM tokr GROUP BY tok), tot AS (SELECT sum(cnt)::DOUBLE AS n FROM freq), sc AS (SELECT doc_id, round(-ln(cnt::DOUBLE / n), 6) AS nll FROM tokr JOIN freq USING (tok) CROSS JOIN tot) SELECT doc_id, round(sum(nll::DECIMAL(38,18))::DOUBLE / count(*), 4) AS lm_nll FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "q_dedup_substring" ->
      s"""WITH $toksSql, sh20 AS (SELECT doc_id, CASE WHEN len(tk) < 20 THEN [] ELSE list_transform(range(1, len(tk) - 18), i -> array_to_string(tk[i:i+19], ' ')) END AS gs FROM toks), spans AS (SELECT doc_id, md5(unnest(gs)) AS span FROM sh20) SELECT span, count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_occ, min(doc_id)::BIGINT AS keeper FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2 ORDER BY span""",
    // same 8-char-window boundary rule (md5 first two hex digits in
    // '00'..'03', position 1 always opens), same next-boundary chunk
    // slicing (DuckDB's index lambda is 1-based where Spark's is
    // 0-based — bs[i+1] here IS element_at(bs, k+2) there), same
    // digest census
    "q_dedup_cdc" ->
      """WITH b AS (SELECT doc_id, text, list_filter(range(1, greatest(length(text) - 7, 1) + 1), i -> i = 1 OR substr(md5(substr(text, i, 8)), 1, 2) <= '03') AS bs FROM documents), ch AS (SELECT doc_id, unnest(list_transform(bs, (x, i) -> substr(text, x, coalesce(bs[i + 1], length(text) + 1) - x))) AS c FROM b) SELECT md5(c) AS chunk_hash, count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_occ, max(length(c))::BIGINT AS chunk_chars, min(doc_id)::BIGINT AS keeper FROM ch GROUP BY md5(c) HAVING count(DISTINCT doc_id) >= 2 ORDER BY chunk_hash""",
    "q_text_vocab" ->
      s"""WITH $toksSql, u AS (SELECT unnest(tk) AS w FROM toks), tc AS (SELECT w, count(*) AS c FROM u GROUP BY w) SELECT length(format('{:b}', c))::INT AS bucket, count(*)::BIGINT AS n_terms, sum(c)::BIGINT AS n_tokens FROM tc GROUP BY bucket ORDER BY bucket""",
    // same top-200 by (count desc, term), same round-after-ln into
    // DECIMAL(12,6) exact sums, same closed-form parenthesization
    // same 3-gram type rows, same two hash aggs (per-doc counts,
    // first-occurrence vocab), same 16 integer doc_id thresholds,
    // same round-after-ln DECIMAL(12,6) power sums and closed-form
    // parenthesization
    // same integer word/sentence/syllable counts, same fixed
    // parenthesization of the grade (constants forced ::DOUBLE so
    // DuckDB doesn't run the arithmetic in DECIMAL), same
    // round-then-decimal-sum mean
    "q_text_readability" ->
      s"""WITH $toksSql, m AS (SELECT d.source, len(t.tk)::BIGINT AS w, greatest(len(regexp_extract_all(d.text, '[.!?]+')), 1)::BIGINT AS sn, greatest(len(regexp_extract_all(lower(d.text), '[aeiouy]+')), 1)::BIGINT AS sy FROM documents d JOIN toks t ON d.doc_id = t.doc_id), g AS (SELECT source, w, round(0.39::DOUBLE * w / sn + 11.8::DOUBLE * sy / w - 15.59::DOUBLE, 4) AS grade FROM m) SELECT source, count(*)::BIGINT AS n_docs, sum(w)::BIGINT AS n_words, round(sum(grade::DECIMAL(38,18))::DOUBLE / count(*), 4) AS mean_grade, min(grade) AS min_grade, max(grade) AS max_grade FROM g GROUP BY source ORDER BY source""",
    // same min-shingle-hash content-keyed sample, same banding
    // candidates, same integer decile/ppm and the same generated
    // analytic literals
    "q_dedup_lsh_curve" ->
      (s"""WITH $minhashSigSql, cand AS (SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id), shr_all AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)), smp AS (SELECT doc_id FROM (SELECT doc_id, md5(min(g)) AS sk FROM shr_all GROUP BY doc_id) WHERE substr(sk, 1, 1) IN ('0', '1')), ssr0 AS (SELECT shr_all.doc_id, g FROM shr_all JOIN smp USING (doc_id)), dft AS (SELECT g, count(*)::BIGINT AS df FROM ssr0 GROUP BY g), capct AS (SELECT count(*)::BIGINT AS n_sh_capped FROM dft WHERE df > 256), ssr AS (SELECT ssr0.doc_id, ssr0.g FROM ssr0 JOIN dft USING (g) WHERE dft.df <= 256), nsh AS (SELECT doc_id, count(*)::BIGINT AS n FROM ssr GROUP BY doc_id), iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter FROM ssr a JOIN ssr b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2), pr AS (SELECT iv.doc_a, iv.doc_b, least(9, iv.inter * 10 // (na.n + nb.n - iv.inter))::BIGINT AS decile FROM iv JOIN nsh na ON na.doc_id = iv.doc_a JOIN nsh nb ON nb.doc_id = iv.doc_b), ms AS (SELECT decile, count(*)::BIGINT AS n_pairs, sum(CASE WHEN cand.ca IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_collide FROM pr LEFT JOIN cand ON pr.doc_a = cand.ca AND pr.doc_b = cand.cb GROUP BY decile), an AS (SELECT * FROM (VALUES """ +
        (0 to 9).map(dd => s"(${dd}::BIGINT, ${lshAnalyticPpm(dd)}::BIGINT)").mkString(", ") +
        """) t(decile, analytic_ppm)) SELECT ms.decile, ms.n_pairs, ms.n_collide, (ms.n_collide * 1000000 // ms.n_pairs)::BIGINT AS measured_ppm, an.analytic_ppm, capct.n_sh_capped FROM ms JOIN an USING (decile) CROSS JOIN capct ORDER BY decile"""),
    // same shared tokenizer, same distinct-type and occurrence aggs,
    // same integer ppm
    "q_text_ttr" ->
      s"""WITH $toksSql, tr AS (SELECT doc_id, unnest(tk) AS tok FROM toks), st AS (SELECT d.source, tr.tok FROM tr JOIN documents d USING (doc_id)), n AS (SELECT source, count(*)::BIGINT AS n_tokens FROM st GROUP BY source), ty AS (SELECT source, count(*)::BIGINT AS n_types FROM (SELECT DISTINCT source, tok FROM st) GROUP BY source) SELECT n.source, n.n_tokens, ty.n_types, (ty.n_types * 1000000 // n.n_tokens)::BIGINT AS ttr_ppm FROM n JOIN ty USING (source) ORDER BY source""",
    // same md5-split eval slice, same distinct 3-gram types, same
    // integer-ppm novelty with the zero guard
    "q_text_novelty" ->
      s"""WITH $toksSql, $shinglesSql, shr AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)), ev AS (SELECT DISTINCT g FROM shr WHERE substr(md5(doc_id::VARCHAR), 1, 1) = '0'), tn AS (SELECT DISTINCT g FROM shr WHERE substr(md5(doc_id::VARCHAR), 1, 1) <> '0'), n1 AS (SELECT count(*)::BIGINT AS n_eval_types FROM ev), n2 AS (SELECT count(*)::BIGINT AS n_overlap FROM ev JOIN tn USING (g)) SELECT n_eval_types, n_overlap, (CASE WHEN n_eval_types = 0 THEN 0 ELSE (n_eval_types - n_overlap) * 1000000 // n_eval_types END)::BIGINT AS novel_ppm FROM n1 CROSS JOIN n2""",
    // same per-doc adjacent bigrams over the shared tokenizer, same
    // count>=5 gate, same HUGEINT-exact ppm ranking and tiebreaks
    "q_text_colloc" ->
      s"""WITH $toksSql, tr0 AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS i, tk FROM toks), tr AS (SELECT doc_id, (i - 1)::BIGINT AS pos, tk[i] AS tok FROM tr0), bg0 AS (SELECT doc_id, tok AS x, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS y FROM tr), b2 AS (SELECT x, y FROM bg0 WHERE y IS NOT NULL), nn AS (SELECT count(*)::BIGINT AS n FROM b2), cxy AS (SELECT x, y, count(*)::BIGINT AS cxy FROM b2 GROUP BY x, y HAVING count(*) >= 5), cx AS (SELECT tok AS x, count(*)::BIGINT AS cx FROM tr GROUP BY tok) SELECT cxy.x, cxy.y, cxy.cxy, (cxy.cxy::HUGEINT * nn.n * 1000000 // (cx.cx::HUGEINT * cy.cx))::BIGINT AS pmi_ppm FROM cxy JOIN cx ON cx.x = cxy.x JOIN cx cy ON cy.x = cxy.y CROSS JOIN nn ORDER BY pmi_ppm DESC, cxy.cxy DESC, cxy.x, cxy.y LIMIT 30""",
    "q_text_heaps" ->
      s"""WITH $toksSql, $shinglesSql, tokr AS (SELECT doc_id, unnest(gs) AS tok FROM sh), pt AS (SELECT doc_id, count(*)::BIGINT AS nt FROM tokr GROUP BY doc_id), fo AS (SELECT tok, min(doc_id) AS fdoc FROM tokr GROUP BY tok), pv AS (SELECT fdoc AS doc_id, count(*)::BIGINT AS nv FROM fo GROUP BY fdoc), pd AS (SELECT pt.doc_id, pt.nt, coalesce(pv.nv, 0) AS nv FROM pt LEFT JOIN pv ON pt.doc_id = pv.doc_id), mx AS (SELECT max(doc_id) AS m FROM documents), ck AS (SELECT k, (SELECT m FROM mx) * k // 16 AS thr FROM (SELECT unnest(range(1, 17)) AS k)), cp AS (SELECT ck.k, sum(pd.nt)::BIGINT AS n_toks, sum(pd.nv)::BIGINT AS vocab FROM ck JOIN pd ON pd.doc_id <= ck.thr GROUP BY ck.k), p AS (SELECT round(ln(n_toks), 6)::DECIMAL(12,6) AS lx, round(ln(vocab), 6)::DECIMAL(12,6) AS ly FROM cp WHERE n_toks > 0 AND vocab > 0), g AS (SELECT count(*)::DOUBLE AS n, round(sum(lx), 6)::DOUBLE AS sx, round(sum(ly), 6)::DOUBLE AS sy, round(sum(lx * ly), 6)::DOUBLE AS sxy, round(sum(lx * lx), 6)::DOUBLE AS sxx, round(sum(ly * ly), 6)::DOUBLE AS syy FROM p) SELECT n::BIGINT AS n_pts, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta, round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS lnk, round((n * sxy - sx * sy) / (n * sxx - sx * sx) * ((n * sxy - sx * sy) / (n * syy - sy * sy)), 6) AS r2 FROM g""",
    "q_text_zipf" ->
      s"""WITH $toksSql, u AS (SELECT unnest(tk) AS w FROM toks), tc AS (SELECT w, count(*)::BIGINT AS c FROM u GROUP BY w ORDER BY c DESC, w LIMIT 200), rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM tc), p AS (SELECT round(ln(r), 6)::DECIMAL(12,6) AS lx, round(ln(c), 6)::DECIMAL(12,6) AS ly FROM rk), g AS (SELECT count(*)::DOUBLE AS n, round(sum(lx), 6)::DOUBLE AS sx, round(sum(ly), 6)::DOUBLE AS sy, round(sum(lx * ly), 6)::DOUBLE AS sxy, round(sum(lx * lx), 6)::DOUBLE AS sxx, round(sum(ly * ly), 6)::DOUBLE AS syy FROM p) SELECT n::BIGINT AS n_terms, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope, round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept, round((n * sxy - sx * sy) / (n * sxx - sx * sx) * ((n * sxy - sx * sy) / (n * syy - sy * sy)), 6) AS r2 FROM g""",
    // lift ranks like PMI (log is monotone) but stays in exact
    // integer products + one rounded division
    "q_text_lift" ->
      s"""WITH $toksSql, u AS (SELECT unnest(tk) AS w FROM toks), uni AS (SELECT w, count(*)::BIGINT AS c FROM u GROUP BY w), tot AS (SELECT sum(c)::BIGINT AS n FROM uni), bg AS (SELECT tk[i] || ' ' || tk[i+1] AS gram, tk[i] AS w1, tk[i+1] AS w2 FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(tk))) AS i) r WHERE len(tk) >= 2), bi AS (SELECT gram, w1, w2, count(*)::BIGINT AS cxy FROM bg GROUP BY gram, w1, w2 HAVING count(*) >= 20) SELECT b.gram, b.cxy, round(b.cxy::DOUBLE * tot.n / (ux.c * uy.c), 4) AS lift FROM bi b JOIN uni ux ON ux.w = b.w1 JOIN uni uy ON uy.w = b.w2 CROSS JOIN tot ORDER BY lift DESC, gram LIMIT 15""",
    "q_udtf_ngrams" ->
      s"""WITH $toksSql, g AS (SELECT t.doc_id, i - 1 AS pos, array_to_string(t.tk[i:i+2], ' ') AS gram FROM toks t CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.tk) - 1)) AS i) r WHERE len(t.tk) >= 3 AND t.doc_id % 25 = 0) SELECT doc_id, count(*)::BIGINT AS n_grams, count(DISTINCT gram)::BIGINT AS n_unique, min(gram) AS first_gram FROM g GROUP BY doc_id ORDER BY doc_id""",
    // the twin rebuilds the identical 64 registers from the shared
    // md5 hashes; estimator formula replicated term-for-term
    "q_sketch_hll" ->
      """WITH h AS (SELECT ('0x' || substr(md5('hll|' || o_custkey::VARCHAR), 1, 8))::BIGINT % 64 AS idx, ('0x' || substr(md5('hll|' || o_custkey::VARCHAR), 9, 8))::BIGINT AS v FROM orders), rg AS (SELECT idx, max(CASE WHEN v = 0 THEN 33 ELSE 33 - length(format('{:b}', v)) END) AS m FROM h GROUP BY idx) SELECT (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT AS n_exact, round(0.709 * 4096.0 / (sum(pow(2.0, -m)) + (64 - count(*)) * 1.0), 4) AS n_est FROM rg""",
    // zipped same-length unnests rebuild the engine's (pos, hash)
    // shingle rows 1-based; the window-set filter (pos <= n-4 here,
    // pos <= n-5 on the 0-based engine side) selects the same windows
    "q_text_winnow" ->
      s"""WITH $toksSql, $shinglesSql, g AS (SELECT doc_id, unnest(range(1, len(gs) + 1)) AS pos, unnest(list_transform(gs, x -> md5(x))) AS h FROM sh), wm AS (SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp, count(*) OVER (PARTITION BY doc_id) AS n_sh FROM g), sel AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= n_sh - 4), ag AS (SELECT doc_id, count(*)::BIGINT AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp FROM sel GROUP BY doc_id) SELECT d.doc_id, coalesce(ag.n_fp, 0)::BIGINT AS n_fp, ag.min_fp, ag.max_fp FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id ORDER BY d.doc_id""",
    // full dimension grid (cross of the two aggregated dimension
    // tables), zero cells via left join; identical integer numerators,
    // IEEE double division, round-then-decimal-sum, squared Cramér
    "q_agg_cramers" ->
      """WITH cell AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2), rt AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1), ct AS (SELECT source, count(*) AS c FROM documents GROUP BY 1), tot AS (SELECT count(*) AS n, count(DISTINCT lang) AS nl, count(DISTINCT source) AS ns FROM documents), g AS (SELECT rt.lang, ct.source, rt.r, ct.c, coalesce(cell.o, 0) AS o FROM rt CROSS JOIN ct LEFT JOIN cell ON cell.lang = rt.lang AND cell.source = ct.source), terms AS (SELECT round(((o * tot.n - r * c) * (o * tot.n - r * c))::DOUBLE / (tot.n * r * c)::DOUBLE, 6) AS term, tot.n, tot.nl, tot.ns FROM g, tot) SELECT n::BIGINT AS n, nl::BIGINT AS n_lang, ns::BIGINT AS n_source, round(sum(term::DECIMAL(38,18))::DOUBLE, 4) AS chi2, round(round(sum(term::DECIMAL(38,18))::DOUBLE, 4) / (n * least(nl - 1, ns - 1))::DOUBLE, 6) AS v2 FROM terms GROUP BY n, nl, ns""",
    // same per-source ROWS prefix sum and integer stride crossing
    "q_sample_systematic" ->
      """WITH c AS (SELECT source, doc_id, n_chars, sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(n_chars) OVER (PARTITION BY source) AS total FROM documents), k AS (SELECT source, doc_id, cum, n_chars, greatest(1, total // 10) AS stride FROM c) SELECT source, doc_id, cum::BIGINT AS cum FROM k WHERE cum // stride > (cum - n_chars) // stride ORDER BY source, doc_id""",
    // same whitespace tokenizer, 16-bit md5 prefix % 16 buckets
    "q_feature_hash" ->
      s"""WITH $toksSql, tr AS (SELECT doc_id, unnest(tk) AS tok FROM toks) SELECT doc_id, (('0x' || substr(md5(tok), 1, 4))::BIGINT % 16)::INT AS bucket, count(*)::BIGINT AS cnt FROM tr WHERE tok <> '' GROUP BY doc_id, bucket ORDER BY doc_id, bucket""",
    // same two rankers (exact cosine; int8 dot with the rerank
    // encoding), top-100 each, same 1/(60+rank) fusion
    "q_embed_rrf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0), q AS (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS qscale FROM q0), qc AS (SELECT qv, qscale, list_transform(qv, x -> CASE WHEN qscale = 0 THEN 0.0 ELSE floor(x / qscale * 127 + 0.5) END) AS qcodes FROM q), sc AS (SELECT vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS cos, (${foldSql("list_transform(range(1, 65), i -> (CASE WHEN list_max(list_transform(v, y -> abs(y))) = 0 THEN 0.0 ELSE floor(v[i] / list_max(list_transform(v, y -> abs(y))) * 127 + 0.5) END) * qcodes[i])")} * list_max(list_transform(v, y -> abs(y))) * qscale) / 16129.0 AS approx FROM e CROSS JOIN qc WHERE vec_id <> 0), ta AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS ra FROM sc ORDER BY cos DESC, vec_id LIMIT 100), tb AS (SELECT vec_id, row_number() OVER (ORDER BY approx DESC, vec_id) AS rb FROM sc ORDER BY approx DESC, vec_id LIMIT 100) SELECT coalesce(ta.vec_id, tb.vec_id) AS vec_id, coalesce(ta.ra, 0)::BIGINT AS ra, coalesce(tb.rb, 0)::BIGINT AS rb, round(coalesce(1.0 / (60 + ta.ra), 0.0) + coalesce(1.0 / (60 + tb.rb), 0.0), 6) AS rrf FROM ta FULL OUTER JOIN tb ON ta.vec_id = tb.vec_id ORDER BY rrf DESC, vec_id LIMIT 15""",
    // same per-pair rounded cosine, per-query-vector max, decimal mean
    "q_embed_maxsim" ->
      s"""WITH e AS (SELECT label, vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), p AS (SELECT q.label AS la, t.label AS lb, q.vec_id AS qid, round(${foldSql("list_transform(range(1, 65), i -> q.v[i] * t.v[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> q.v[i] * q.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> t.v[i] * t.v[i])")})), 6) AS cos FROM e q JOIN e t ON q.label < t.label WHERE q.vec_id % 17 = 0), b AS (SELECT la, lb, qid, max(cos) AS best FROM p GROUP BY 1, 2, 3) SELECT la, lb, count(*)::BIGINT AS n_q, round(sum(best::DECIMAL(38,18))::DOUBLE / count(*), 4) AS maxsim FROM b GROUP BY la, lb ORDER BY la, lb""",
    // same broadcast weight row (vec_id 1), ordered dot fold, logit
    // threshold, round-then-decimal-sum mean
    "q_embed_classify" ->
      s"""WITH w AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS wv FROM embeddings WHERE vec_id = 1), e AS (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings WHERE vec_id <> 1), sc AS (SELECT label, round(${foldSql("list_transform(range(1, 65), i -> v[i] * wv[i])")}, 6) AS logit FROM e, w) SELECT label, count(*)::BIGINT AS n, sum(CASE WHEN logit > 0 THEN 1 ELSE 0 END)::BIGINT AS n_accept, round(sum(logit::DECIMAL(38,18))::DOUBLE / count(*), 4) AS avg_logit FROM sc GROUP BY label ORDER BY label""",
    // same ordered left fold (list_reduce) for norm², same per-row
    // round-then-decimal-sum mean
    "q_embed_norms" ->
      s"""WITH e AS (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), n AS (SELECT label, round(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}, 6) AS n2 FROM e) SELECT label, count(*)::BIGINT AS n_vecs, min(n2) AS min_n2, max(n2) AS max_n2, round(sum(n2::DECIMAL(38,18))::DOUBLE / count(*), 4) AS avg_n2 FROM n GROUP BY label ORDER BY label""",
    // same synthetic-PII injection, the same two RE2-compatible scrub
    // regexes ('g' = replace all, matching Spark's default), counts
    // BEFORE (emails) / AFTER (ips on the scrubbed text), same 48-bit
    // md5-int fingerprint of the redacted corpus
    "q_text_pii" ->
      """WITH w AS (SELECT source, doc_id, text || ' contact user' || doc_id || '@example.com from 10.0.' || (doc_id % 256) || '.7' AS txt FROM documents), r AS (SELECT source, len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email, regexp_replace(regexp_replace(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS red FROM w) SELECT source, count(*)::BIGINT AS n_docs, sum(n_email)::BIGINT AS n_emails, sum(len(regexp_extract_all(red, '<IP>')))::BIGINT AS n_ips, bit_xor(('0x' || substr(md5(red), 1, 12))::BIGINT)::BIGINT AS red_fp FROM r GROUP BY source ORDER BY source""",
    // strlen = DuckDB's byte length; chr() codepoints keep both source
    // files ASCII-only
    "q_text_utf8" ->
      """WITH m AS (SELECT source, text || CASE WHEN doc_id % 7 = 0 THEN chr(233) || chr(8364) ELSE '' END AS txt FROM documents) SELECT source, count(*)::BIGINT AS n_docs, sum(strlen(txt))::BIGINT AS n_bytes, sum(length(txt))::BIGINT AS n_chars, sum(CASE WHEN strlen(txt) <> length(txt) THEN 1 ELSE 0 END)::BIGINT AS n_multibyte_docs, round(sum(strlen(txt))::DOUBLE / sum(length(txt)), 6) AS bloat FROM m GROUP BY source ORDER BY source""",
    // same factor derivation (1 + (srcnum % 4)/2) and deterministic
    // fractional repeat (doc_id*37 mod 10); epoch rows via range unnest
    "q_mix_upsample" ->
      """WITH f AS (SELECT source, doc_id, 1 + (substr(source, 4)::INT % 4) // 2 + CASE WHEN (doc_id * 37) % 10 < ((substr(source, 4)::INT % 4) % 2) * 5 THEN 1 ELSE 0 END AS reps FROM documents), e AS (SELECT source, doc_id, unnest(range(1, reps + 1)) AS epoch FROM f) SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_emitted, round(count(*)::DOUBLE / count(DISTINCT doc_id), 4) AS realized FROM e GROUP BY source ORDER BY source""",
    // argmax lang via the min-struct trick on (-cnt, lang); dup ratio
    // from the (source, md5) hash agg — all terms integer-exact
    "q_pipeline_datacard" ->
      """WITH bl AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2), top AS (SELECT source, count(*)::BIGINT AS n_langs, (min({'nc': -c, 'l': lang})).l AS top_lang FROM bl GROUP BY source), st AS (SELECT source, sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_distinct FROM (SELECT source, md5(text) AS h, count(*) AS n FROM documents GROUP BY 1, 2) GROUP BY source), ch AS (SELECT source, sum(n_chars)::BIGINT AS total_chars FROM documents GROUP BY source) SELECT st.source, st.n_docs, top.n_langs, top.top_lang, ch.total_chars, round((st.n_docs - st.n_distinct)::DOUBLE / st.n_docs, 4) AS dup_ratio, round(ch.total_chars::DOUBLE / st.n_docs, 2) AS avg_chars FROM st JOIN top ON st.source = top.source JOIN ch ON st.source = ch.source ORDER BY st.source""",
    "q_er_match" ->
      """SELECT x.c_custkey AS a, y.c_custkey AS b, levenshtein(x.c_name, y.c_name)::INT AS dist FROM customer x JOIN customer y ON x.c_nationkey = y.c_nationkey AND x.c_mktsegment = y.c_mktsegment AND substr(x.c_name, 1, 14) = substr(y.c_name, 1, 14) AND x.c_custkey < y.c_custkey WHERE levenshtein(x.c_name, y.c_name) <= 2 ORDER BY a, b""",
    // identical pair set; recursive min-label closure = the CC entity id
    "q_er_cluster" ->
      """WITH RECURSIVE p AS (SELECT x.c_custkey AS a, y.c_custkey AS b FROM customer x JOIN customer y ON x.c_nationkey = y.c_nationkey AND x.c_mktsegment = y.c_mktsegment AND substr(x.c_name, 1, 14) = substr(y.c_name, 1, 14) AND x.c_custkey < y.c_custkey WHERE levenshtein(x.c_name, y.c_name) <= 2), e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p), verts AS (SELECT DISTINCT src AS v FROM e), r AS (SELECT v, v AS m FROM verts UNION SELECT e.dst, r.m FROM r JOIN e ON e.src = r.v), comp AS (SELECT v, min(m) AS entity FROM r GROUP BY v) SELECT entity, count(*)::BIGINT AS n_records, min(v)::BIGINT AS min_key, max(v)::BIGINT AS max_key FROM comp GROUP BY entity ORDER BY entity""",
    // distinct keys per group (plus the _all union), exact 48-bit
    // normalized hashes, k-th smallest via the same rank window
    "q_sketch_kmv" ->
      """WITH e AS (SELECT DISTINCT event_type, user_id::VARCHAR AS k0 FROM events), g AS (SELECT event_type, k0 FROM e UNION ALL SELECT DISTINCT '_all', k0 FROM e), r AS (SELECT event_type, ('0x' || substr(md5('kmv|' || k0), 1, 12))::BIGINT / 281474976710656.0 AS u FROM g), rk AS (SELECT event_type, u, row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM r) SELECT event_type AS grp, max(n)::BIGINT AS n_exact, round(CASE WHEN max(n) < 32 THEN max(n)::DOUBLE ELSE 31.0 / max(CASE WHEN rn = 32 THEN u END) END, 4) AS kmv_est FROM rk GROUP BY event_type ORDER BY grp""",
    // same banded candidate pairs (the minhash oracle's CTE chain),
    // same clipped-count precision with per-b-side totals
    "q_text_bleu" ->
      s"""WITH $toksSql, $shinglesSql, shr AS (SELECT doc_id, unnest(gs) AS g FROM sh), comp AS (SELECT doc_id, b.b * 4 + j.j AS seed, min(substr(md5(b.b::VARCHAR || '|' || g), j.j * 8 + 1, 8)) AS c FROM shr CROSS JOIN (SELECT unnest(range(4)) AS b) b CROSS JOIN (SELECT unnest(range(4)) AS j) j GROUP BY doc_id, b.b * 4 + j.j), bands AS (SELECT doc_id, seed // 4 AS band_id, string_agg(c, '' ORDER BY seed) AS bkey FROM comp GROUP BY doc_id, seed // 4), pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id), ug AS (SELECT doc_id, unnest(tk) AS gram FROM toks), uc AS (SELECT doc_id, gram, count(*) AS c FROM ug GROUP BY 1, 2), ut AS (SELECT doc_id, count(*) AS tot FROM ug GROUP BY 1), bg AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [] ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS gram FROM toks), bc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2), bt AS (SELECT doc_id, count(*) AS tot FROM bg GROUP BY 1), h1 AS (SELECT p.doc_a, p.doc_b, sum(least(a.c, b.c)) AS hit FROM pairs p JOIN uc a ON a.doc_id = p.doc_a JOIN uc b ON b.doc_id = p.doc_b AND b.gram = a.gram GROUP BY 1, 2), h2 AS (SELECT p.doc_a, p.doc_b, sum(least(a.c, b.c)) AS hit FROM pairs p JOIN bc a ON a.doc_id = p.doc_a JOIN bc b ON b.doc_id = p.doc_b AND b.gram = a.gram GROUP BY 1, 2) SELECT p.doc_a, p.doc_b, round(coalesce(h1.hit, 0)::DOUBLE / coalesce(ut.tot, 1), 4) AS p1, round(coalesce(h2.hit, 0)::DOUBLE / coalesce(bt.tot, 1), 4) AS p2 FROM pairs p LEFT JOIN h1 ON h1.doc_a = p.doc_a AND h1.doc_b = p.doc_b LEFT JOIN ut ON ut.doc_id = p.doc_b LEFT JOIN h2 ON h2.doc_a = p.doc_a AND h2.doc_b = p.doc_b LEFT JOIN bt ON bt.doc_id = p.doc_b ORDER BY p.doc_a, p.doc_b""",
    // same tier derivation, same (tier, doc_id) min-struct winner
    "q_dedup_priority" ->
      """WITH b AS (SELECT doc_id, source, substr(source, 4)::INT % 3 AS tier, md5(text) AS h FROM documents), k AS (SELECT h, (min({'t': tier, 'i': doc_id})).i AS keep_id FROM b GROUP BY h) SELECT b.source AS source, count(*)::BIGINT AS n_docs, sum(CASE WHEN b.doc_id = k.keep_id THEN 1 ELSE 0 END)::BIGINT AS n_kept, sum(CASE WHEN b.doc_id <> k.keep_id THEN 1 ELSE 0 END)::BIGINT AS n_dropped FROM b JOIN k USING (h) GROUP BY b.source ORDER BY source""",
    // same retained sets (rn < K), same theta rule (u at rn=K else 1),
    // same strict u < min(theta) intersection count
    "q_sketch_kmv_intersect" ->
      """WITH e AS (SELECT DISTINCT event_type, user_id::VARCHAR AS k0 FROM events), r AS (SELECT event_type, ('0x' || substr(md5('kmv|' || k0), 1, 12))::BIGINT / 281474976710656.0 AS u FROM e), rk AS (SELECT event_type, u, row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn FROM r), th AS (SELECT event_type, coalesce(max(CASE WHEN rn = 32 THEN u END), 1.0) AS theta FROM rk GROUP BY event_type), ret AS (SELECT event_type, u FROM rk WHERE rn < 32), cm AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS c, min(least(x.theta, y.theta)) AS th FROM ret a JOIN ret b ON a.u = b.u AND a.event_type < b.event_type JOIN th x ON x.event_type = a.event_type JOIN th y ON y.event_type = b.event_type WHERE a.u < least(x.theta, y.theta) GROUP BY 1, 2), ex AS (SELECT x.event_type AS ta, y.event_type AS tb, count(*) AS n_exact FROM e x JOIN e y ON x.k0 = y.k0 AND x.event_type < y.event_type GROUP BY 1, 2) SELECT ex.ta AS ta, ex.tb AS tb, ex.n_exact::BIGINT AS n_exact, round(coalesce(cm.c::DOUBLE / cm.th, 0.0), 4) AS kmv_est FROM ex LEFT JOIN cm ON ex.ta = cm.ta AND ex.tb = cm.tb ORDER BY ex.ta, ex.tb""",
    // bigram rows with their history tokens; V from the shared
    // tokenizer; same Laplace expression and decimal-sum mean
    "q_text_lmscore2" ->
      s"""WITH $toksSql, bg AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN [] ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS gram FROM toks), br AS (SELECT doc_id, gram, string_split(gram, ' ')[1] AS prev FROM bg), bcnt AS (SELECT gram, count(*) AS cb FROM br GROUP BY gram), hist AS (SELECT prev, count(*) AS ch FROM br GROUP BY prev), voc AS (SELECT count(DISTINCT tok)::DOUBLE AS v FROM (SELECT unnest(tk) AS tok FROM toks)), sc AS (SELECT br.doc_id, round(-ln((bcnt.cb + 1)::DOUBLE / (hist.ch::DOUBLE + voc.v)), 6) AS nll FROM br JOIN bcnt USING (gram) JOIN hist USING (prev) CROSS JOIN voc) SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(sum(nll::DECIMAL(38,18))::DOUBLE / count(*), 4) AS bi_nll FROM sc GROUP BY doc_id ORDER BY doc_id""",
    // per-type registers, then the merged set as max-over-types per
    // index — the same registers a direct over-all-rows build yields
    "q_sketch_hll_merge" ->
      """WITH h AS (SELECT event_type, ('0x' || substr(md5('hll|' || user_id::VARCHAR), 1, 8))::BIGINT % 64 AS idx, ('0x' || substr(md5('hll|' || user_id::VARCHAR), 9, 8))::BIGINT AS v FROM events), rt AS (SELECT event_type, idx, max(CASE WHEN v = 0 THEN 33 ELSE 33 - length(format('{:b}', v)) END) AS m FROM h GROUP BY event_type, idx), rall AS (SELECT '_all' AS event_type, idx, max(m) AS m FROM rt GROUP BY idx), regs AS (SELECT * FROM rt UNION ALL SELECT * FROM rall), ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact FROM events GROUP BY event_type UNION ALL SELECT '_all', count(DISTINCT user_id)::BIGINT FROM events) SELECT r.event_type AS grp, ex.n_exact, round(0.709 * 4096.0 / (sum(pow(2.0, -r.m)) + (64 - count(*)) * 1.0), 4) AS n_est FROM regs r JOIN ex ON r.event_type = ex.event_type GROUP BY r.event_type, ex.n_exact ORDER BY grp""",
    // the est CTE chain is threshold-free; true Jaccard joins the
    // distinct per-doc shingle sets only for the candidate pairs
    "q_dedup_minhash_acc" ->
      s"""WITH $minhashEstSql, ash AS (SELECT DISTINCT doc_id, g FROM shr), nsh AS (SELECT doc_id, count(*)::BIGINT AS n FROM ash GROUP BY doc_id), iv AS (SELECT e.doc_a, e.doc_b, round(e.est0, 4) AS est, (SELECT count(*) FROM ash x JOIN ash y ON x.g = y.g WHERE x.doc_id = e.doc_a AND y.doc_id = e.doc_b) AS inter FROM est e) SELECT iv.doc_a, iv.doc_b, iv.est, round(iv.inter::DOUBLE / (na.n + nb.n - iv.inter), 4) AS jac FROM iv JOIN nsh na ON na.doc_id = iv.doc_a JOIN nsh nb ON nb.doc_id = iv.doc_b ORDER BY iv.doc_a, iv.doc_b""",
    "q_sketch_cms" ->
      s"""WITH $toksSql, tokr AS (SELECT unnest(tk) AS tok FROM toks), rc AS (SELECT tok, rr.r, (('0x' || substr(md5(rr.r::VARCHAR || '|' || tok), 1, 8))::BIGINT % 256)::INT AS c FROM tokr CROSS JOIN (SELECT unnest(range(3)) AS r) rr), cells AS (SELECT r, c, count(*)::BIGINT AS cell_cnt FROM rc GROUP BY r, c), exact AS (SELECT tok, count(*)::BIGINT AS exact_cnt FROM tokr GROUP BY tok), top AS (SELECT tok, exact_cnt FROM exact ORDER BY exact_cnt DESC, tok LIMIT 10), probe AS (SELECT t.tok, t.exact_cnt, rr.r, (('0x' || substr(md5(rr.r::VARCHAR || '|' || t.tok), 1, 8))::BIGINT % 256)::INT AS c FROM top t CROSS JOIN (SELECT unnest(range(3)) AS r) rr) SELECT p.tok, p.exact_cnt, min(cl.cell_cnt)::BIGINT AS est_cnt FROM probe p JOIN cells cl ON p.r = cl.r AND p.c = cl.c GROUP BY p.tok, p.exact_cnt ORDER BY p.exact_cnt DESC, p.tok""",
    // the same stage chain as the curation oracle, counted per stage;
    // keep rate in exact integer ppm of the raw corpus
    "q_pipeline_yield" ->
      s"""WITH $qualityScoreSql, $shinglesSql, keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), q AS (SELECT d.doc_id, d.lang, s.score FROM documents d JOIN keep k ON d.doc_id = k.doc_id JOIN qscore s ON s.doc_id = d.doc_id WHERE s.score >= 0.5), shr AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)), ev AS (SELECT DISTINCT g FROM shr WHERE substr(md5(doc_id::VARCHAR), 1, 1) = '0'), cont AS (SELECT DISTINCT s.doc_id FROM shr s JOIN ev USING (g) WHERE substr(md5(s.doc_id::VARCHAR), 1, 1) <> '0'), held AS (SELECT * FROM q WHERE substr(md5(doc_id::VARCHAR), 1, 1) <> '0'), cl AS (SELECT doc_id, lang, score FROM held WHERE doc_id NOT IN (SELECT doc_id FROM cont)), r AS (SELECT doc_id, row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk FROM cl), u AS (SELECT '00_total' AS stage, (SELECT count(*) FROM documents) AS n_out UNION ALL SELECT '10_dedup', (SELECT count(*) FROM keep) UNION ALL SELECT '20_quality', (SELECT count(*) FROM q) UNION ALL SELECT '30_holdout', (SELECT count(*) FROM held) UNION ALL SELECT '40_decontam', (SELECT count(*) FROM cl) UNION ALL SELECT '50_quota', (SELECT count(*) FROM r WHERE rk <= 100)) SELECT stage, n_out::BIGINT AS n_out, (n_out * 1000000 // (SELECT count(*) FROM documents))::BIGINT AS keep_ppm FROM u ORDER BY stage""",
    "q_pipeline_curation" ->
      s"""WITH $qualityScoreSql, $shinglesSql, keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), q AS (SELECT d.doc_id, d.lang, s.score FROM documents d JOIN keep k ON d.doc_id = k.doc_id JOIN qscore s ON s.doc_id = d.doc_id WHERE s.score >= 0.5), shr AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)), ev AS (SELECT DISTINCT g FROM shr WHERE substr(md5(doc_id::VARCHAR), 1, 1) = '0'), cont AS (SELECT DISTINCT s.doc_id FROM shr s JOIN ev USING (g) WHERE substr(md5(s.doc_id::VARCHAR), 1, 1) <> '0'), cl AS (SELECT doc_id, lang, score FROM q WHERE substr(md5(doc_id::VARCHAR), 1, 1) <> '0' AND doc_id NOT IN (SELECT doc_id FROM cont)), r AS (SELECT doc_id, lang, score, row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk FROM cl) SELECT lang, count(*)::BIGINT AS n, min(doc_id)::BIGINT AS first_doc, round(sum(score::DECIMAL(38,18))::DOUBLE / count(*), 4) AS mean_score FROM r WHERE rk <= 100 GROUP BY lang ORDER BY lang""",
    // v1's chain + the boilerplate gate (occurrence-rows df like the
    // q_text_boilerplate oracle), then the budget/shard windows over
    // the survivor set only
    "q_pipeline_curation2" ->
      s"""WITH $qualityScoreSql, $shinglesSql, keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), q AS (SELECT d.doc_id, d.lang, d.text, s.score FROM documents d JOIN keep k ON d.doc_id = k.doc_id JOIN qscore s ON s.doc_id = d.doc_id WHERE s.score >= 0.5), bg AS (SELECT doc_id, md5(unnest(gs)) AS h FROM sh), dfq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM bg GROUP BY h), bst AS (SELECT bg.doc_id, count(*) AS n_sh, sum(CASE WHEN dfq.nd >= 3 THEN 1 ELSE 0 END) AS n_boiler FROM bg JOIN dfq ON bg.h = dfq.h GROUP BY bg.doc_id), okb AS (SELECT d.doc_id FROM documents d LEFT JOIN bst ON d.doc_id = bst.doc_id WHERE CASE WHEN round(coalesce(bst.n_boiler / bst.n_sh, 0.0), 4) > 0.5 THEN 1 ELSE 0 END = 0), q2 AS (SELECT q.* FROM q JOIN okb USING (doc_id)), shr AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)), ev AS (SELECT DISTINCT g FROM shr WHERE substr(md5(doc_id::VARCHAR), 1, 1) = '0'), cont AS (SELECT DISTINCT s.doc_id FROM shr s JOIN ev USING (g) JOIN q2 ON q2.doc_id = s.doc_id WHERE substr(md5(s.doc_id::VARCHAR), 1, 1) <> '0'), cl AS (SELECT q2.doc_id, q2.lang, q2.text, q2.score FROM q2 WHERE substr(md5(q2.doc_id::VARCHAR), 1, 1) <> '0' AND q2.doc_id NOT IN (SELECT doc_id FROM cont)), wtc AS (SELECT cl.doc_id, cl.lang, cl.score, len(t.tk)::BIGINT AS tc, octet_length(encode(cl.text))::BIGINT AS nb FROM cl JOIN toks t ON cl.doc_id = t.doc_id), bud AS (SELECT *, coalesce(sum(tc) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM wtc), adm AS (SELECT * FROM bud WHERE before < 5000), shd AS (SELECT *, coalesce(sum(nb) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM adm) SELECT lang, count(*)::BIGINT AS n_kept, sum(tc)::BIGINT AS n_toks, count(DISTINCT cb // 16384)::BIGINT AS n_shards, min(doc_id)::BIGINT AS first_doc, round(sum(score::DECIMAL(38,18))::DOUBLE / count(*), 4) AS mean_score FROM shd GROUP BY lang ORDER BY lang""",
    // same md5-mod-16 shard assignment, same full shard×lang spine,
    // same cross-multiplied |n_sl·N − n_l·N_s| integer deviation,
    // same (dev desc, lang) argmax
    "q_mix_shuffle" ->
      """WITH sh AS (SELECT doc_id, lang, (('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 16)::INT AS shard FROM documents), sl AS (SELECT shard, lang, count(*)::BIGINT AS nsl FROM sh GROUP BY shard, lang), lt AS (SELECT lang, count(*)::BIGINT AS nl FROM sh GROUP BY lang), st AS (SELECT shard, count(*)::BIGINT AS ns FROM sh GROUP BY shard), nn AS (SELECT count(*)::BIGINT AS nn FROM sh), dev AS (SELECT st.shard, lt.lang, st.ns, abs(coalesce(sl.nsl, 0) * nn.nn - lt.nl * st.ns)::BIGINT AS dev FROM st CROSS JOIN lt CROSS JOIN nn LEFT JOIN sl ON sl.shard = st.shard AND sl.lang = lt.lang), rk AS (SELECT shard, ns, dev, lang, row_number() OVER (PARTITION BY shard ORDER BY dev DESC, lang) AS rk FROM dev) SELECT shard, ns AS n_docs, dev AS max_dev, lang AS dev_lang FROM rk WHERE rk = 1 ORDER BY shard""",
    // same per-lang doc_id-ordered running token sum, same 2048 DIV
    // boundary census, same ceil-div sequence count and integer-ppm
    // tail fill
    "q_pack_sequences" ->
      s"""WITH $toksSql, tc AS (SELECT d.doc_id, d.lang, len(t.tk)::BIGINT AS tc FROM documents d JOIN toks t ON d.doc_id = t.doc_id), c AS (SELECT lang, doc_id, tc, coalesce(sum(tc) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS a_before FROM tc) SELECT lang, count(*)::BIGINT AS n_docs, sum(tc)::BIGINT AS n_toks, ((sum(tc) + 2047) // 2048)::BIGINT AS n_seqs, sum(CASE WHEN tc > 0 AND a_before // 2048 <> (a_before + tc - 1) // 2048 THEN 1 ELSE 0 END)::BIGINT AS n_split_docs, (CASE WHEN sum(tc) = 0 THEN 0 WHEN sum(tc) % 2048 = 0 THEN 1000000 ELSE (sum(tc) % 2048) * 1000000 // 2048 END)::BIGINT AS tail_fill_ppm FROM c GROUP BY lang ORDER BY lang""",
    "q_mix_temperature" ->
      """WITH g AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang), t AS (SELECT lang, n_docs, n_docs / (SELECT sum(n_docs)::DOUBLE FROM g) AS p FROM g), q AS (SELECT lang, n_docs, p, round(pow(p, 0.7), 6)::DECIMAL(18,6) AS q0 FROM t) SELECT lang, n_docs, round(p, 4) AS p, round(q0::DOUBLE / (SELECT sum(q0) FROM q)::DOUBLE, 4) AS rate FROM q ORDER BY lang""",
    // same NLL terms (round 6 then decimal sum), same exact-sum means,
    // same round-before-exp / round-before-Z discipline
    "q_mix_doremi" ->
      s"""WITH $toksSql, tokr AS (SELECT d.source, unnest(t.tk) AS tok FROM documents d JOIN toks t ON d.doc_id = t.doc_id), freq AS (SELECT tok, count(*) AS cnt FROM tokr GROUP BY tok), tot AS (SELECT sum(cnt)::DOUBLE AS n FROM freq), sc AS (SELECT source, round(-ln(cnt::DOUBLE / n), 6) AS nll FROM tokr JOIN freq USING (tok) CROSS JOIN tot), dom AS (SELECT source, count(*)::BIGINT AS n_toks, sum(nll::DECIMAL(38,18)) AS snll FROM sc GROUP BY source), al AS (SELECT sum(snll)::DOUBLE / sum(n_toks)::DOUBLE AS m_all, count(*)::DOUBLE AS kd FROM dom), ex AS (SELECT source, n_toks, kd, round(greatest(snll::DOUBLE / n_toks - m_all, 0.0), 6) AS excess FROM dom CROSS JOIN al), ew AS (SELECT source, n_toks, kd, excess, round(exp(excess), 6) AS ew FROM ex), z AS (SELECT sum(ew::DECIMAL(38,18))::DOUBLE AS z FROM ew) SELECT source, n_toks, excess, round(0.9 * ew / z + 0.1 / kd, 4) AS weight FROM ew CROSS JOIN z ORDER BY source""",
    // same 64 md5 unigram buckets, same Laplace smoothing, same
    // term-local round(8) log-ratio + per-doc decimal sum
    "q_sample_dsir" ->
      s"""WITH $toksSql, tr AS (SELECT d.doc_id, d.lang, unnest(t.tk) AS tok FROM documents d JOIN toks t ON d.doc_id = t.doc_id), tb AS (SELECT doc_id, lang, ('0x' || substr(md5(tok), 1, 4))::BIGINT % 64 AS b FROM tr), tgt AS (SELECT b, count(*)::BIGINT AS ct FROM tb WHERE lang = 'en' GROUP BY b), srcc AS (SELECT b, count(*)::BIGINT AS cs FROM tb GROUP BY b), nt AS (SELECT count(*)::DOUBLE AS n_t FROM tb WHERE lang = 'en'), ns AS (SELECT count(*)::DOUBLE AS n_s FROM tb), r AS (SELECT s.b, round(ln(((coalesce(t.ct, 0) + 1)::DOUBLE / (nt.n_t + 64)) / ((s.cs + 1)::DOUBLE / (ns.n_s + 64))), 8) AS lr FROM srcc s LEFT JOIN tgt t USING (b) CROSS JOIN nt CROSS JOIN ns) SELECT tb.doc_id, count(*)::BIGINT AS n_toks, round(sum(r.lr::DECIMAL(38,18))::DOUBLE, 4) AS w FROM tb JOIN r USING (b) GROUP BY tb.doc_id ORDER BY w DESC, doc_id LIMIT 50""",
    // same logit fold, same 0.25-wide bins (exact binary fractions)
    "q_embed_classify_cal" ->
      s"""WITH w AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS wv, label AS lt FROM embeddings WHERE vec_id = 1), e AS (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings WHERE vec_id <> 1), sc AS (SELECT (label = lt) AS pos, floor(round(${foldSql("list_transform(range(1, 65), i -> v[i] * wv[i])")}, 6) / 0.25)::BIGINT AS bin FROM e, w) SELECT bin, round(bin * 0.25, 2) AS lo, count(*)::BIGINT AS n, sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS n_pos, round(sum(CASE WHEN pos THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 4) AS pos_rate FROM sc GROUP BY bin ORDER BY bin""",
    // same integer-ratio-inside-ln terms (cross-multiplied mixture
    // denominator), same term-local round(8) decimal sums, same exact
    // binary ½ scaling
    "q_text_jsd" ->
      s"""WITH $toksSql, tr AS (SELECT d.source, unnest(t.tk) AS tok FROM documents d JOIN toks t ON d.doc_id = t.doc_id), tc AS (SELECT source, tok, count(*)::BIGINT AS c FROM tr GROUP BY 1, 2), ns AS (SELECT source, count(*)::BIGINT AS n FROM tr GROUP BY source), vv AS (SELECT DISTINCT tok FROM tr), pr AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb FROM ns a JOIN ns b ON a.source < b.source), g AS (SELECT pr.sa, pr.sb, pr.na, pr.nb, coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb FROM pr CROSS JOIN vv LEFT JOIN tc ca ON ca.source = pr.sa AND ca.tok = vv.tok LEFT JOIN tc cb ON cb.source = pr.sb AND cb.tok = vv.tok WHERE coalesce(ca.c, 0) + coalesce(cb.c, 0) > 0), tm AS (SELECT sa, sb, na, nb, CASE WHEN ca > 0 THEN round((ca::DOUBLE / na) * ln(2.0 * ca * nb / (ca * nb + cb * na)), 8) ELSE 0.0 END::DECIMAL(38,18) AS ta, CASE WHEN cb > 0 THEN round((cb::DOUBLE / nb) * ln(2.0 * cb * na / (cb * na + ca * nb)), 8) ELSE 0.0 END::DECIMAL(38,18) AS tb FROM g) SELECT sa, sb, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b, round(0.5 * (sum(ta) + sum(tb))::DOUBLE, 4) AS jsd FROM tm GROUP BY sa, sb ORDER BY sa, sb""",
    "q_mix_kl" ->
      s"""WITH $toksSql, tr AS (SELECT d.lang, unnest(t.tk) AS tok FROM documents d JOIN toks t ON d.doc_id = t.doc_id), cl AS (SELECT lang, tok, count(*)::BIGINT AS cl FROM tr GROUP BY 1, 2), cg AS (SELECT tok, count(*)::BIGINT AS cg FROM tr GROUP BY tok), nl AS (SELECT lang, count(*)::BIGINT AS nl FROM tr GROUP BY lang), ng AS (SELECT count(*)::BIGINT AS ng FROM tr), tm AS (SELECT cl.lang, nl.nl, round((cl.cl::DOUBLE / nl.nl) * ln((cl.cl::DOUBLE / nl.nl) / (cg.cg::DOUBLE / ng.ng)), 8) AS term FROM cl JOIN cg USING (tok) JOIN nl ON cl.lang = nl.lang CROSS JOIN ng) SELECT lang, max(nl)::BIGINT AS n_toks, round(sum(term::DECIMAL(38,18))::DOUBLE, 4) AS kl FROM tm GROUP BY lang ORDER BY lang""",
    "q_mix_weights" ->
      """WITH s AS (SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_chars FROM documents GROUP BY source) SELECT source, n_docs, n_chars, round((SELECT sum(n_docs) FROM s)::DOUBLE / ((SELECT count(*) FROM s) * n_docs)::DOUBLE, 4) AS weight FROM s ORDER BY source""",
    "q_text_decontaminate" ->
      s"""WITH $toksSql, $shinglesSql, shr AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)), f AS (SELECT doc_id, g, substr(md5(doc_id::VARCHAR), 1, 1) = '0' AS is_eval FROM shr), ev AS (SELECT DISTINCT g FROM f WHERE is_eval) SELECT doc_id, count(DISTINCT f.g)::BIGINT AS hits FROM f JOIN ev ON f.g = ev.g WHERE NOT is_eval GROUP BY doc_id ORDER BY doc_id""",
    "q_text_bigrams" ->
      s"""WITH $toksSql, sh2 AS (SELECT doc_id, CASE WHEN len(tk) < 2 THEN [] ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END AS gs FROM toks), bgr AS (SELECT doc_id, unnest(gs) AS g FROM sh2), c AS (SELECT d.lang, b.g, count(*) AS cnt FROM bgr b JOIN documents d ON d.doc_id = b.doc_id GROUP BY 1, 2), rk AS (SELECT lang, g, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, g)::INT AS rk FROM c) SELECT lang, g, cnt::BIGINT AS cnt, rk FROM rk WHERE rk <= 3 ORDER BY lang, rk""",
    "q_regex_clean" ->
      """SELECT doc_id, length(regexp_replace(text, '[0-9]+', '#', 'g'))::INT AS len_masked, length(regexp_replace(text, '\s+', ' ', 'g'))::INT AS len_ws, len(regexp_extract_all(text, '[A-Za-z]{4,}'))::INT AS n_longwords FROM documents ORDER BY doc_id""",
    "q_dedup_minhash" ->
      s"""WITH $toksSql, $shinglesSql, shr AS (SELECT doc_id, unnest(gs) AS g FROM sh), comp AS (SELECT doc_id, b.b * 4 + j.j AS seed, min(substr(md5(b.b::VARCHAR || '|' || g), j.j * 8 + 1, 8)) AS c FROM shr CROSS JOIN (SELECT unnest(range(4)) AS b) b CROSS JOIN (SELECT unnest(range(4)) AS j) j GROUP BY doc_id, b.b * 4 + j.j), bands AS (SELECT doc_id, seed // 4 AS band_id, string_agg(c, '' ORDER BY seed) AS bkey FROM comp GROUP BY doc_id, seed // 4), pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id), est AS (SELECT p.doc_a, p.doc_b, (SELECT count(*) FROM comp x JOIN comp y ON x.seed = y.seed AND x.c = y.c WHERE x.doc_id = p.doc_a AND y.doc_id = p.doc_b)::DOUBLE / 16.0 AS est0 FROM pairs p) SELECT doc_a, doc_b, round(est0, 4) AS est FROM est WHERE est0 >= 0.25 ORDER BY doc_a, doc_b""",
    "q_dedup_simhash" ->
      ("""WITH tk AS (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS tok FROM documents), v AS (SELECT doc_id, """ +
        (0 until 16).map(b => s"sum(CASE WHEN substr(md5(tok), ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$b").mkString(", ") +
        """ FROM tk GROUP BY doc_id), h AS (SELECT doc_id, (""" +
        (0 until 16).map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ") +
        """)::BIGINT AS simhash FROM v) SELECT simhash, count(*)::BIGINT AS cnt, min(doc_id)::BIGINT AS keeper FROM h GROUP BY simhash ORDER BY simhash"""),
    "q_dedup_simhash_near" ->
      ("""WITH tk AS (SELECT doc_id, md5('0|' || tok) AS m0, md5('1|' || tok) AS m1 FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS tok FROM documents)), v AS (SELECT doc_id, """ +
        (0 until 60).map(s => s"sum(CASE WHEN substr(m${s / 30}, ${s % 30 + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$s").mkString(", ") +
        """ FROM tk GROUP BY doc_id), h AS (SELECT doc_id, (""" +
        (0 until 60).map(s => s"CASE WHEN s$s > 0 THEN ${1L << s} ELSE 0 END").mkString(" + ") +
        """)::BIGINT AS simhash FROM v) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, bit_count(xor(a.simhash, b.simhash))::INT AS dist FROM h a JOIN h b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY doc_a, doc_b"""),
    // same 60-bit signatures; the band-candidate set is expressed
    // all-pairs with an any-band-collides predicate (equivalent to the
    // engine's band equi-join by construction); true cosine via the
    // DISTINCT-token-row intersection join, the q_dedup_minhash_acc
    // idiom
    "q_dedup_simhash_acc" ->
      ("""WITH tk AS (SELECT doc_id, md5('0|' || tok) AS m0, md5('1|' || tok) AS m1 FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS tok FROM documents)), v AS (SELECT doc_id, """ +
        (0 until 60).map(s => s"sum(CASE WHEN substr(m${s / 30}, ${s % 30 + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$s").mkString(", ") +
        """ FROM tk GROUP BY doc_id), h AS (SELECT doc_id, (""" +
        (0 until 60).map(s => s"CASE WHEN s$s > 0 THEN ${1L << s} ELSE 0 END").mkString(" + ") +
        """)::BIGINT AS simhash FROM v), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, xor(a.simhash, b.simhash) AS x FROM h a JOIN h b ON a.doc_id < b.doc_id), cand AS (SELECT doc_a, doc_b, bit_count(x)::INT AS dist FROM p WHERE doc_a % 37 = 0 AND (((x >> 0) & 32767) = 0 OR ((x >> 15) & 32767) = 0 OR ((x >> 30) & 32767) = 0 OR ((x >> 45) & 32767) = 0)), tsr AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS tok FROM documents), nts AS (SELECT doc_id, count(*)::BIGINT AS n FROM tsr GROUP BY doc_id), iv AS (SELECT c.doc_a, c.doc_b, c.dist, (SELECT count(*) FROM tsr x JOIN tsr y ON x.tok = y.tok WHERE x.doc_id = c.doc_a AND y.doc_id = c.doc_b) AS inter FROM cand c) SELECT iv.doc_a, iv.doc_b, iv.dist, round(1 - iv.dist / 60.0, 4) AS est, round(iv.inter::DOUBLE / sqrt((na.n * nb.n)::DOUBLE), 4) AS cos_true FROM iv JOIN nts na ON na.doc_id = iv.doc_a JOIN nts nb ON nb.doc_id = iv.doc_b ORDER BY iv.doc_a, iv.doc_b"""),
    "q_dedup_ngram" ->
      s"""WITH $toksSql, $shinglesSql, g AS (SELECT d.doc_id, d.lang, d.source, d.n_chars // 100 AS band, list_distinct(s.gs) AS gs FROM documents d JOIN sh s ON d.doc_id = s.doc_id), shr AS (SELECT doc_id, lang, source, band, unnest(gs) AS g FROM g), cnt AS (SELECT doc_id, count(*) AS c FROM shr GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM shr a JOIN shr b ON a.g = b.g AND a.lang = b.lang AND a.source = b.source AND a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2), j AS (SELECT doc_a, doc_b, i::DOUBLE / (ca.c + cb.c - i)::DOUBLE AS jac0 FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b) SELECT doc_a, doc_b, round(jac0, 4) AS jac FROM j WHERE jac0 >= 0.15 ORDER BY doc_a, doc_b""",
    "q_dedup_containment" ->
      s"""WITH $toksSql, $shinglesSql, g AS (SELECT d.doc_id, d.lang, d.source, d.n_chars // 100 AS band, list_distinct(s.gs) AS gs FROM documents d JOIN sh s ON d.doc_id = s.doc_id), shr AS (SELECT doc_id, lang, source, band, unnest(gs) AS g FROM g), cnt AS (SELECT doc_id, count(*) AS c FROM shr GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM shr a JOIN shr b ON a.g = b.g AND a.lang = b.lang AND a.source = b.source AND a.band = b.band AND a.doc_id < b.doc_id GROUP BY 1, 2), j AS (SELECT doc_a, doc_b, i::DOUBLE / least(ca.c, cb.c)::DOUBLE AS c0 FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b) SELECT doc_a, doc_b, round(c0, 4) AS containment FROM j WHERE c0 >= 0.3 ORDER BY doc_a, doc_b""",
    "q_dedup_incremental" ->
      s"""WITH $minhashSigSql, pairs AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0), est AS (SELECT p.new_id, p.corpus_id, (SELECT count(*) FROM comp x JOIN comp y ON x.seed = y.seed AND x.c = y.c WHERE x.doc_id = p.new_id AND y.doc_id = p.corpus_id)::DOUBLE / 16.0 AS est0 FROM pairs p) SELECT new_id, corpus_id, round(est0, 4) AS est FROM est WHERE est0 >= 0.25 ORDER BY new_id, corpus_id""",
    // the STREAMING arrival loop must reconstruct exactly the batch
    // incremental-dedup answer (batch x corpus candidates are
    // arrival-order-independent) — oracle shared verbatim
    "q_stream_dedup_corpus" ->
      s"""WITH $minhashSigSql, pairs AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0), est AS (SELECT p.new_id, p.corpus_id, (SELECT count(*) FROM comp x JOIN comp y ON x.seed = y.seed AND x.c = y.c WHERE x.doc_id = p.new_id AND y.doc_id = p.corpus_id)::DOUBLE / 16.0 AS est0 FROM pairs p) SELECT new_id, corpus_id, round(est0, 4) AS est FROM est WHERE est0 >= 0.25 ORDER BY new_id, corpus_id""",
    "q_dedup_embed" ->
      s"""WITH $embedPairsSql SELECT i, j, round(c, 4) AS cos FROM pr ORDER BY i, j""",
    // the same banded-LSH chain with the plane count RE-DERIVED from
    // count(*) by the same integer rule as Similarity.autoPlanesPerBand
    // (bitLength((n−1) // 96) clamped to [8,16] — length(bin(..)) is
    // that bit length in both engines), and the chosen geometry
    // verified on every row
    "q_dedup_embed_auto" ->
      s"""WITH pp AS (SELECT greatest(8, least(16, length(bin((count(*) - 1) // 96))))::INT AS pl FROM embeddings), s AS (SELECT p, list(CASE WHEN substr(md5(p::VARCHAR || '|' || i::VARCHAR), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv FROM range(64) tp(p) CROSS JOIN range(64) ti(i) WHERE p < 4 * (SELECT pl FROM pp) GROUP BY p), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), dt AS (SELECT vec_id, p, ${foldSql("list_transform(range(1, 65), i -> v[i] * sv[i])")} AS dot FROM e CROSS JOIN s), bk AS (SELECT vec_id, p // (SELECT pl FROM pp) AS band_id, CASE WHEN bool_or(dot IS NULL) THEN NULL ELSE sum(CASE WHEN dot >= 0 THEN (1 << (p % (SELECT pl FROM pp))) ELSE 0 END)::BIGINT END AS bucket FROM dt GROUP BY vec_id, p // (SELECT pl FROM pp)), eb AS (SELECT e.vec_id, e.v, bk.band_id, bk.bucket FROM e JOIN bk USING (vec_id)), cp AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j FROM eb a JOIN eb b ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id), p AS (SELECT cp.i, cp.j, ${foldSql("list_transform(range(1, 65), i -> ea.v[i] * eb2.v[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> ea.v[i] * ea.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> eb2.v[i] * eb2.v[i])")})) AS c FROM cp JOIN e ea ON ea.vec_id = cp.i JOIN e eb2 ON eb2.vec_id = cp.j), pr AS (SELECT i, j, c FROM p WHERE round(c, 4) >= 0.4) SELECT i, j, round(c, 4) AS cos, (SELECT pl FROM pp) AS planes FROM pr ORDER BY i, j""",
    "q_dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), p AS (SELECT a.cid, b.vec_id AS ib, ${foldSql("list_transform(range(1, 65), i -> a.v[i] * b.v[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> a.v[i] * a.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> b.v[i] * b.v[i])")})) AS c FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id), dr AS (SELECT cid, count(DISTINCT ib) AS n_drop FROM p WHERE round(c, 4) >= 0.4 GROUP BY cid), sz AS (SELECT cid, count(*) AS sz FROM assigned GROUP BY cid) SELECT sz.cid, sz.sz::BIGINT AS sz, coalesce(dr.n_drop, 0)::BIGINT AS n_drop, (sz.sz - coalesce(dr.n_drop, 0))::BIGINT AS n_kept FROM sz LEFT JOIN dr ON sz.cid = dr.cid ORDER BY sz.cid""",
    // the same SemDeDup chain with the cell count RE-DERIVED from
    // count(*) by the same integer rule as Similarity.autoCellCount
    // (ceil(n/500) clamped to [8, 4096]), verified on every row
    "q_dedup_semantic_auto" ->
      s"""WITH kk AS (SELECT greatest(8, least(4096, (count(*) + 499) // 500))::BIGINT AS k FROM embeddings), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk)), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), p AS (SELECT a.cid, b.vec_id AS ib, ${foldSql("list_transform(range(1, 65), i -> a.v[i] * b.v[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> a.v[i] * a.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> b.v[i] * b.v[i])")})) AS c FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id), dr AS (SELECT cid, count(DISTINCT ib) AS n_drop FROM p WHERE round(c, 4) >= 0.4 GROUP BY cid), sz AS (SELECT cid, count(*) AS sz FROM assigned GROUP BY cid) SELECT sz.cid, sz.sz::BIGINT AS sz, coalesce(dr.n_drop, 0)::BIGINT AS n_drop, (sz.sz - coalesce(dr.n_drop, 0))::BIGINT AS n_kept, (SELECT k FROM kk)::INT AS cells FROM sz LEFT JOIN dr ON sz.cid = dr.cid ORDER BY sz.cid""",
    // same cluster assignment + pair cosines as q_dedup_semantic,
    // labels joined in, one aggregate row per tau of the sweep
    "q_dedup_semantic_acc" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), al AS (SELECT a.vec_id, a.v, a.cid, em.label FROM assigned a JOIN embeddings em ON em.vec_id = a.vec_id), p AS (SELECT b.vec_id AS ib, round(${foldSql("list_transform(range(1, 65), i -> a.v[i] * b.v[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> a.v[i] * a.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> b.v[i] * b.v[i])")})), 4) AS c, (a.label = b.label) AS same FROM al a JOIN al b ON a.cid = b.cid AND a.vec_id < b.vec_id), ts AS (SELECT unnest([0.3, 0.4, 0.5, 0.6]) AS tau), n AS (SELECT count(*)::DOUBLE AS n_total FROM assigned), agg AS (SELECT ts.tau, count(CASE WHEN p.c >= ts.tau THEN 1 END)::BIGINT AS n_pairs, count(CASE WHEN p.c >= ts.tau AND p.same THEN 1 END)::BIGINT AS n_same_label, count(DISTINCT CASE WHEN p.c >= ts.tau THEN p.ib END)::BIGINT AS n_drop FROM ts CROSS JOIN p GROUP BY ts.tau) SELECT agg.tau, agg.n_pairs, agg.n_same_label, agg.n_drop, round(agg.n_drop::DOUBLE / n.n_total, 4) AS drop_rate, CASE WHEN agg.n_pairs = 0 THEN 0.0 ELSE round(agg.n_same_label::DOUBLE / agg.n_pairs::DOUBLE, 4) END AS label_prec FROM agg, n ORDER BY agg.tau""",
    // same cell assignment + labels as q_dedup_semantic_acc, pairs
    // directed per anchor (vec_id <> vec_id, label <> label), same
    // round(4) cosine, same (cos desc, neg) rank cut at 3
    "q_embed_hardneg" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), al AS (SELECT a.vec_id, a.v, a.cid, em.label FROM assigned a JOIN embeddings em ON em.vec_id = a.vec_id), p AS (SELECT a.vec_id AS anchor, b.vec_id AS neg, round(${foldSql("list_transform(range(1, 65), i -> a.v[i] * b.v[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> a.v[i] * a.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> b.v[i] * b.v[i])")})), 4) AS cos FROM al a JOIN al b ON a.cid = b.cid AND a.vec_id <> b.vec_id AND a.label <> b.label), rk AS (SELECT anchor, neg, cos, row_number() OVER (PARTITION BY anchor ORDER BY cos DESC, neg)::INT AS rk FROM p) SELECT anchor, neg, cos, rk FROM rk WHERE rk <= 3 ORDER BY anchor, rk""",
    "q_dedup_embed_cluster" ->
      s"""WITH RECURSIVE $embedPairsSql, ed AS (SELECT i AS src, j AS dst FROM pr UNION ALL SELECT j, i FROM pr), r AS (SELECT src AS a, src AS b FROM ed UNION SELECT r.a, ed.dst FROM r JOIN ed ON ed.src = r.b), cmp AS (SELECT a AS vertex, min(b) AS component FROM r GROUP BY a) SELECT component::BIGINT AS component, count(*)::BIGINT AS sz, max(vertex)::BIGINT AS max_vec FROM cmp GROUP BY component ORDER BY component""",
    // same closure, plus the reclaimed-character accounting: one
    // member-keyed join to documents, non-keeper n_chars summed
    "q_dedup_families" ->
      s"""WITH RECURSIVE $minhashEstSql, prf AS (SELECT doc_a, doc_b FROM est WHERE est0 >= 0.5), ed AS (SELECT doc_a AS src, doc_b AS dst FROM prf UNION ALL SELECT doc_b, doc_a FROM prf), r AS (SELECT src AS a, src AS b FROM ed UNION SELECT r.a, ed.dst FROM r JOIN ed ON ed.src = r.b), cmp AS (SELECT a AS vertex, min(b) AS component FROM r GROUP BY a), cm AS (SELECT cmp.vertex, cmp.component, d.n_chars FROM cmp JOIN documents d ON d.doc_id = cmp.vertex) SELECT component::BIGINT AS component, count(*)::BIGINT AS family_sz, (count(*) - 1)::BIGINT AS n_dropped, sum(CASE WHEN vertex <> component THEN n_chars ELSE 0 END)::BIGINT AS chars_dropped, max(vertex)::BIGINT AS max_doc FROM cm GROUP BY component ORDER BY component""",
    "q_text_repetition" ->
      s"""WITH $toksSql, tokr AS (SELECT doc_id, unnest(tk) AS tok FROM toks), tt AS (SELECT doc_id, sum(c)::BIGINT AS n_toks, max(c) AS top_c FROM (SELECT doc_id, tok, count(*) AS c FROM tokr GROUP BY 1, 2) GROUP BY doc_id), sh2 AS (SELECT doc_id, CASE WHEN len(tk) < 2 THEN [] ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END AS gs FROM toks), bg AS (SELECT doc_id, len(gs) AS n_big, len(list_distinct(gs)) AS n_dist FROM sh2 WHERE len(gs) > 0), j AS (SELECT tt.doc_id, tt.n_toks, round(tt.top_c::DOUBLE / tt.n_toks::DOUBLE, 4) AS top_tok_frac, round(coalesce((bg.n_big - bg.n_dist)::DOUBLE / bg.n_big::DOUBLE, 0.0), 4) AS dup_bigram_frac FROM tt LEFT JOIN bg ON tt.doc_id = bg.doc_id) SELECT doc_id, n_toks, top_tok_frac, dup_bigram_frac, (CASE WHEN top_tok_frac > 0.2 OR dup_bigram_frac > 0.3 THEN 1 ELSE 0 END)::INT AS flagged FROM j ORDER BY doc_id""",
    "q_range_join" ->
      """WITH ev AS (SELECT event_id, user_id, floor(floor(epoch(ts)) / 300) AS band, floor(epoch(ts)) AS sec FROM events) SELECT a.user_id, count(*)::BIGINT AS n_pairs, round(avg(abs(b.sec - a.sec)), 2) AS avg_gap FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.band = b.band AND a.event_id < b.event_id GROUP BY a.user_id ORDER BY a.user_id""",
    "q_embed_topk" ->
      s"""WITH q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv FROM embeddings WHERE vec_id = 0), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings WHERE vec_id <> 0), sc AS (SELECT vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM e, q) SELECT vec_id, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 20""",
    "q_embed_knn_join" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE label = 0), sc AS (SELECT q.qid, e.vec_id, round(${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})), 4) AS score FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), rk AS (SELECT qid, vec_id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)::INT AS rk FROM sc) SELECT qid, vec_id, score, rk FROM rk WHERE rk <= 5 ORDER BY qid, rk""",
    "q_embed_lsh" ->
      s"""WITH s AS (SELECT p, list(CASE WHEN substr(md5(p::VARCHAR || '|' || i::VARCHAR), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv FROM range(8) tp(p) CROSS JOIN range(64) ti(i) GROUP BY p), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), dt AS (SELECT vec_id, p, ${foldSql("list_transform(range(1, 65), i -> v[i] * sv[i])")} AS dot FROM e CROSS JOIN s), b AS (SELECT vec_id, sum(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket FROM dt GROUP BY vec_id) SELECT bucket, count(*)::BIGINT AS cnt, min(vec_id)::BIGINT AS min_vec FROM b GROUP BY bucket ORDER BY bucket""",
    "q_embed_pq" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), subs AS (SELECT unnest(range(8)) AS sub), vs AS (SELECT vec_id, sub, list_slice(v, sub*8+1, sub*8+8) AS sv FROM e CROSS JOIN subs), cb AS (SELECT vec_id AS code, sub, sv AS scv FROM vs WHERE vec_id BETWEEN 1 AND 16), asg AS (SELECT vec_id, sub, (min({'d': d2, 'c': code})).c AS code FROM (SELECT vs.vec_id, vs.sub, cb.code, ${foldSql("list_transform(range(1, 9), i -> (sv[i] - scv[i]) * (sv[i] - scv[i]))")} AS d2 FROM vs JOIN cb USING (sub)) GROUP BY vec_id, sub), lut AS (SELECT cb.sub, cb.code, ${foldSql("list_transform(range(1, 9), i -> scv[i] * qsv[i])")} AS pdot FROM cb JOIN (SELECT sub, sv AS qsv FROM vs WHERE vec_id = 0) q USING (sub)), ap AS (SELECT a.vec_id, round(sum(pdot::DECIMAL(28,12))::DOUBLE, 4) AS approx FROM asg a JOIN lut USING (sub, code) WHERE a.vec_id <> 0 GROUP BY a.vec_id), cand AS (SELECT vec_id, approx FROM ap ORDER BY approx DESC, vec_id LIMIT 50), q AS (SELECT v AS qv FROM e WHERE vec_id = 0), sc AS (SELECT c.vec_id, c.approx, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM cand c JOIN e USING (vec_id) CROSS JOIN q) SELECT vec_id, approx, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    "q_embed_ivf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), qcell AS (SELECT cid AS qcid, v AS qv FROM assigned WHERE vec_id = 0), sc AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN qcell ON a.cid = qcell.qcid WHERE a.vec_id <> 0) SELECT vec_id, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // same coarse assignment (vec_ids 1..4), same per-cell 4
    // lowest-vec_id fine centroids, same fold-order L2 descent, same
    // leaf-scoped exact top-10
    "q_embed_ivf_2level" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 4), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), a1 AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), fine AS (SELECT cid, vec_id AS fid, v AS fv FROM (SELECT a1.*, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rk FROM a1) WHERE rk <= 4), d2 AS (SELECT a1.vec_id, a1.v, a1.cid, f.fid, ${foldSql("list_transform(range(1, 65), i -> (a1.v[i] - f.fv[i]) * (a1.v[i] - f.fv[i]))")} AS dist FROM a1 JOIN fine f ON a1.cid = f.cid), a2 AS (SELECT vec_id, v, cid, fid FROM (SELECT vec_id, v, cid, fid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, fid) AS rk FROM d2) WHERE rk = 1), qc AS (SELECT cid AS qcid, fid AS qfid, v AS qv FROM a2 WHERE vec_id = 0), sc AS (SELECT a2.vec_id, ${foldSql("list_transform(range(1, 65), i -> a2.v[i] * qc.qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> a2.v[i] * a2.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qc.qv[i] * qc.qv[i])")})) AS score0 FROM a2 JOIN qc ON a2.cid = qc.qcid AND a2.fid = qc.qfid WHERE a2.vec_id <> 0) SELECT vec_id, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // the 2level chain with the fanout RE-DERIVED from count(*) by
    // the same integer rule as Similarity.autoTwoLevelFanout (leaves
    // = ceil(n/500) clamp [16, 2^24]; k1 = smallest power of two with
    // k1^2 >= leaves, via the bin()-length bitLength idiom the
    // autoPlanesPerBand oracle pinned); k1 rides on every output row
    "q_embed_ivf_2level_auto" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings), kk AS (SELECT (1 << ((length(bin(greatest(16, least(16777216, (n + 499) // 500)) - 1)) + 1) // 2)) AS k1 FROM nn), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND (SELECT k1 FROM kk)), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), a1 AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), fine AS (SELECT cid, vec_id AS fid, v AS fv FROM (SELECT a1.*, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rk FROM a1) WHERE rk <= (SELECT k1 FROM kk)), d2 AS (SELECT a1.vec_id, a1.v, a1.cid, f.fid, ${foldSql("list_transform(range(1, 65), i -> (a1.v[i] - f.fv[i]) * (a1.v[i] - f.fv[i]))")} AS dist FROM a1 JOIN fine f ON a1.cid = f.cid), a2 AS (SELECT vec_id, v, cid, fid FROM (SELECT vec_id, v, cid, fid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, fid) AS rk FROM d2) WHERE rk = 1), qc AS (SELECT cid AS qcid, fid AS qfid, v AS qv FROM a2 WHERE vec_id = 0), sc AS (SELECT a2.vec_id, ${foldSql("list_transform(range(1, 65), i -> a2.v[i] * qc.qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> a2.v[i] * a2.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qc.qv[i] * qc.qv[i])")})) AS score0 FROM a2 JOIN qc ON a2.cid = qc.qcid AND a2.fid = qc.qfid WHERE a2.vec_id <> 0) SELECT vec_id, round(score0, 4) AS score, (SELECT k1 FROM kk)::INT AS k1 FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // the greedy graph route unrolled: the same cell-bounded
    // navigable graph (autoCellCount cells re-derived from count(*),
    // fold-order L2 edge ranking, the shared (12,4) nswGraphSql
    // topology), then 4 hop CTEs each picking the best-cosine
    // vertex among {current} ∪ neighbours(current); every CTE
    // MATERIALIZED (multi-referenced chain — the r16 re-inline lesson)
    "q_embed_nsw" -> {
      val cos = s"${foldSql("list_transform(range(1, 65), i -> e.v[i] * q.qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> e.v[i] * e.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])")}))"
      val hops = (1 to 4).map { h =>
        s"c$h AS MATERIALIZED (SELECT $h::INT AS hop, vertex, sc FROM (SELECT e.vec_id AS vertex, $cos AS sc, row_number() OVER (ORDER BY $cos DESC, e.vec_id) AS rk FROM e CROSS JOIN q WHERE e.vec_id IN (SELECT vertex FROM c${h - 1} UNION ALL SELECT g.dst FROM g JOIN c${h - 1} ON g.src = c${h - 1}.vertex)) WHERE rk = 1)"
      }.mkString(", ")
      s"""WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings), kk AS MATERIALIZED (SELECT greatest(8, least(4096, (n + 499) // 500)) AS k FROM nn), e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk)), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS MATERIALIZED (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), $nswGraphSql, q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0), c0 AS MATERIALIZED (SELECT 0::INT AS hop, e.vec_id AS vertex, $cos AS sc FROM e CROSS JOIN q WHERE e.vec_id = 1), $hops SELECT hop, vertex::BIGINT AS vertex, round(sc, 4) AS score, (SELECT k FROM kk)::INT AS cells FROM (SELECT * FROM c0 UNION ALL SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4) ORDER BY hop"""
    },
    // the beam-8 route over 8 hops unrolled (the NswProbe-measured
    // best config on the navigable graph): same graph (corpus-only
    // vertices), same per-hop candidate set {frontier} ∪
    // neighbours(frontier), frontier = row_number ≤ 8 by (cosine
    // desc, vec_id); entry frontier = best-8 of the k cell centroids
    "q_embed_nsw_beam" ->
      s"""WITH $nswBeamChainSql SELECT hop, rk::INT AS rk, vertex::BIGINT AS vertex, round(sc, 4) AS score, (SELECT k FROM kk)::INT AS cells FROM (SELECT * FROM c0 UNION ALL SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4 UNION ALL SELECT * FROM c5 UNION ALL SELECT * FROM c6 UNION ALL SELECT * FROM c7 UNION ALL SELECT * FROM c8) ORDER BY hop, rk""",
    // the batch walk unrolled: same prefix/graph, 4 deterministic
    // query rows (lowest corpus ids ≡ 5 mod 10), per-hop frontiers
    // PARTITIONED BY qid with a row-tuple IN against {frontier} ∪
    // neighbours(frontier); self never routable (e.vec_id <> qid)
    "q_embed_nsw_batch" -> {
      val cosB = s"${foldSql("list_transform(range(1, 65), i -> e.v[i] * q4.qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> e.v[i] * e.v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> q4.qv[i] * q4.qv[i])")}))"
      val hops = (1 to 8).map { h =>
        s"b$h AS MATERIALIZED (SELECT qid, vertex, sc, rk FROM (SELECT c.qid, e.vec_id AS vertex, $cosB AS sc, row_number() OVER (PARTITION BY c.qid ORDER BY $cosB DESC, e.vec_id) AS rk FROM (SELECT DISTINCT qid, vertex FROM (SELECT qid, vertex FROM b${h - 1} UNION ALL SELECT b.qid, g.dst AS vertex FROM g JOIN b${h - 1} b ON g.src = b.vertex)) c JOIN e ON e.vec_id = c.vertex JOIN q4 ON q4.qid = c.qid WHERE e.vec_id <> c.qid) WHERE rk <= 4)"
      }.mkString(", ")
      s"""WITH $nswChainPrefixSql, q4 AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <> 0 AND vec_id % 10 = 5 ORDER BY vec_id LIMIT 4), b0 AS MATERIALIZED (SELECT qid, vertex, sc, rk FROM (SELECT q4.qid, e.vec_id AS vertex, $cosB AS sc, row_number() OVER (PARTITION BY q4.qid ORDER BY $cosB DESC, e.vec_id) AS rk FROM e CROSS JOIN q4 WHERE e.vec_id BETWEEN 1 AND (SELECT k FROM kk) AND e.vec_id <> q4.qid) WHERE rk <= 4), $hops SELECT qid::BIGINT AS qid, rk::INT AS rk, vertex::BIGINT AS vertex, round(sc, 4) AS score, (SELECT k FROM kk)::INT AS cells FROM b8 ORDER BY qid, rk"""
    },
    // the routed family's accuracy readout: c8 (the final frontier)
    // joined against the exact rounded-cosine top-8; hits/8 is a
    // dyadic-exact recall, the endpoint ratio divides two already-
    // rounded doubles (identical in both engines), round(6)
    "q_embed_nsw_recall" ->
      s"""WITH $nswBeamChainSql, ex AS MATERIALIZED (SELECT e.vec_id, round($nswBeamCosSql, 4) AS sc FROM e CROSS JOIN q WHERE e.vec_id <> 0 QUALIFY row_number() OVER (ORDER BY round($nswBeamCosSql, 4) DESC, e.vec_id) <= 8), fin AS (SELECT vertex, sc FROM c8), hb AS (SELECT count(*)::BIGINT AS h FROM fin JOIN ex ON fin.vertex = ex.vec_id), rb AS (SELECT round(sc, 4) AS v FROM c8 WHERE rk = 1) SELECT (SELECT k FROM kk)::INT AS cells, (SELECT h FROM hb) AS hits, ((SELECT h FROM hb)::DOUBLE / 8) AS recall_at_8, (SELECT v FROM rb) AS routed_best, (SELECT max(sc) FROM ex) AS exact_best, round((SELECT v FROM rb) / (SELECT max(sc) FROM ex), 6) AS ratio""",
    // same power-of-two grid (floor of an exact binary scale), same
    // 3×3 neighbourhood explode, same raw-double d² ≤ r² refine
    "q_spatial_join" ->
      """WITH e AS (SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y FROM embeddings), c AS MATERIALIZED (SELECT vec_id, x, y, floor(x / 0.03125)::BIGINT AS cx, floor(y / 0.03125)::BIGINT AS cy FROM e), a9 AS (SELECT vec_id AS i, x AS xi, y AS yi, cx + (t.t // 3 - 1) AS cx, cy + (t.t % 3 - 1) AS cy FROM c CROSS JOIN range(9) t(t)), p AS (SELECT a9.i, b.vec_id AS j FROM a9 JOIN c b ON a9.cx = b.cx AND a9.cy = b.cy AND a9.i <> b.vec_id WHERE (a9.xi - b.x) * (a9.xi - b.x) + (a9.yi - b.y) * (a9.yi - b.y) <= 0.0009765625), g AS (SELECT i, count(*) AS n_nb FROM p GROUP BY i) SELECT e.vec_id::BIGINT AS vec_id, coalesce(g.n_nb, 0)::BIGINT AS n_nb FROM e LEFT JOIN g ON e.vec_id = g.i ORDER BY vec_id""",
    // same grid pairs, core = >=4 in-radius neighbours, clusters =
    // transitive closure over core-core edges (+ self edges so
    // isolated cores survive; label = min id, the engine's CC
    // contract), border attaches to min core-neighbour label
    "q_spatial_dbscan" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y FROM embeddings), c AS MATERIALIZED (SELECT vec_id, x, y, floor(x / 0.03125)::BIGINT AS cx, floor(y / 0.03125)::BIGINT AS cy FROM e), a9 AS (SELECT vec_id AS i, x AS xi, y AS yi, cx + (t.t // 3 - 1) AS cx, cy + (t.t % 3 - 1) AS cy FROM c CROSS JOIN range(9) t(t)), p AS MATERIALIZED (SELECT a9.i, b.vec_id AS j FROM a9 JOIN c b ON a9.cx = b.cx AND a9.cy = b.cy AND a9.i <> b.vec_id WHERE (a9.xi - b.x) * (a9.xi - b.x) + (a9.yi - b.y) * (a9.yi - b.y) <= 0.0009765625), core AS MATERIALIZED (SELECT i AS v FROM (SELECT i, count(*) AS n FROM p GROUP BY i) WHERE n >= 4), ed AS MATERIALIZED (SELECT p.i AS src, p.j AS dst FROM p JOIN core a ON p.i = a.v JOIN core b ON p.j = b.v UNION ALL SELECT v, v FROM core), r AS (SELECT src AS a, src AS b FROM ed UNION SELECT r.a, ed.dst FROM r JOIN ed ON ed.src = r.b), cmp AS MATERIALIZED (SELECT a AS vertex, min(b) AS component FROM r GROUP BY a), bord AS (SELECT p.i, min(cmp.component) AS component FROM p JOIN core co ON p.j = co.v JOIN cmp ON cmp.vertex = p.j LEFT JOIN core me ON p.i = me.v WHERE me.v IS NULL GROUP BY p.i), allr AS (SELECT vertex AS i, component, 1 AS is_core FROM cmp UNION ALL SELECT i, component, 0 AS is_core FROM bord) SELECT component::BIGINT AS component, count(*)::BIGINT AS sz, sum(is_core)::BIGINT AS n_core, sum(1 - is_core)::BIGINT AS n_border FROM allr GROUP BY component ORDER BY component""",
    // the same DBSCAN chain with the radius exponent RE-DERIVED from
    // count(*) by the same integer rule as Similarity
    // .autoSpatialRadiusExp (5 + ⌈bitLength((n−1) // 2048) / 2⌉-style
    // square-root split), r = 1.0 / (1 << e) — exact power-of-two in
    // both engines — and the chosen exponent verified on every row
    "q_spatial_dbscan_auto" ->
      """WITH RECURSIVE nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings), ee AS MATERIALIZED (SELECT rexp, 1.0 / (1 << rexp) AS r FROM (SELECT (5 + CASE WHEN n <= 2048 THEN 0 ELSE (length(bin((n - 1) // 2048)) + 1) // 2 END)::INT AS rexp FROM nn)), e AS (SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y FROM embeddings), c AS MATERIALIZED (SELECT vec_id, x, y, floor(x / (SELECT r FROM ee))::BIGINT AS cx, floor(y / (SELECT r FROM ee))::BIGINT AS cy FROM e), a9 AS (SELECT vec_id AS i, x AS xi, y AS yi, cx + (t.t // 3 - 1) AS cx, cy + (t.t % 3 - 1) AS cy FROM c CROSS JOIN range(9) t(t)), p AS MATERIALIZED (SELECT a9.i, b.vec_id AS j FROM a9 JOIN c b ON a9.cx = b.cx AND a9.cy = b.cy AND a9.i <> b.vec_id WHERE (a9.xi - b.x) * (a9.xi - b.x) + (a9.yi - b.y) * (a9.yi - b.y) <= (SELECT r FROM ee) * (SELECT r FROM ee)), core AS MATERIALIZED (SELECT i AS v FROM (SELECT i, count(*) AS n FROM p GROUP BY i) WHERE n >= 4), ed AS MATERIALIZED (SELECT p.i AS src, p.j AS dst FROM p JOIN core a ON p.i = a.v JOIN core b ON p.j = b.v UNION ALL SELECT v, v FROM core), r AS (SELECT src AS a, src AS b FROM ed UNION SELECT r.a, ed.dst FROM r JOIN ed ON ed.src = r.b), cmp AS MATERIALIZED (SELECT a AS vertex, min(b) AS component FROM r GROUP BY a), bord AS (SELECT p.i, min(cmp.component) AS component FROM p JOIN core co ON p.j = co.v JOIN cmp ON cmp.vertex = p.j LEFT JOIN core me ON p.i = me.v WHERE me.v IS NULL GROUP BY p.i), allr AS (SELECT vertex AS i, component, 1 AS is_core FROM cmp UNION ALL SELECT i, component, 0 AS is_core FROM bord) SELECT component::BIGINT AS component, count(*)::BIGINT AS sz, sum(is_core)::BIGINT AS n_core, sum(1 - is_core)::BIGINT AS n_border, (SELECT rexp FROM ee)::INT AS r_exp FROM allr GROUP BY component ORDER BY component""",
    // same n·k centroid ranking (crk ≤ 2), same per-cell L2 rank cut
    // at cap = ceil(n/k), same second-choice spill, same full-spine
    // left-join census
    "q_embed_ivf_balanced" ->
      s"""WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings), kk AS MATERIALIZED (SELECT greatest(8, least(4096, (n + 499) // 500))::BIGINT AS k, ((n + greatest(8, least(4096, (n + 499) // 500)) - 1) // greatest(8, least(4096, (n + 499) // 500)))::BIGINT AS cap FROM nn), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk)), rx AS MATERIALIZED (SELECT vec_id, cid, d2, crk FROM (SELECT e.vec_id, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS d2, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")}, c.cid) AS crk FROM e CROSS JOIN cents c) WHERE crk <= 2), f AS MATERIALIZED (SELECT vec_id, cid, d2 FROM rx WHERE crk = 1), s2 AS MATERIALIZED (SELECT vec_id, cid AS cid2 FROM rx WHERE crk = 2), r1 AS MATERIALIZED (SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rk FROM f), stay AS (SELECT vec_id, cid FROM r1 WHERE rk <= (SELECT cap FROM kk)), sp AS MATERIALIZED (SELECT vec_id, cid FROM r1 WHERE rk > (SELECT cap FROM kk)), spto AS MATERIALIZED (SELECT sp.vec_id, s2.cid2 AS cid FROM sp JOIN s2 ON sp.vec_id = s2.vec_id), bal AS (SELECT vec_id, cid FROM stay UNION ALL SELECT vec_id, cid FROM spto), n0 AS (SELECT cid, count(*)::BIGINT AS n_first FROM f GROUP BY cid), so AS (SELECT cid, count(*)::BIGINT AS n_spill_out FROM sp GROUP BY cid), si AS (SELECT cid, count(*)::BIGINT AS n_spill_in FROM spto GROUP BY cid), n1 AS (SELECT cid, count(*)::BIGINT AS n_balanced FROM bal GROUP BY cid) SELECT c.cid, coalesce(n0.n_first, 0)::BIGINT AS n_first, coalesce(so.n_spill_out, 0)::BIGINT AS n_spill_out, coalesce(si.n_spill_in, 0)::BIGINT AS n_spill_in, coalesce(n1.n_balanced, 0)::BIGINT AS n_balanced, (SELECT cap FROM kk)::BIGINT AS cap FROM cents c LEFT JOIN n0 USING (cid) LEFT JOIN so USING (cid) LEFT JOIN si USING (cid) LEFT JOIN n1 USING (cid) ORDER BY c.cid""",
    // same rank-cut stay set; the overflow zips onto the global
    // slack-slot list by the same deterministic (vec_id) x (cid, slot)
    // orders — generate_series mirrors Spark's sequence explode
    "q_embed_ivf_balanced_iter" ->
      s"""WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings), kk AS MATERIALIZED (SELECT greatest(8, least(4096, (n + 499) // 500))::BIGINT AS k, ((n + greatest(8, least(4096, (n + 499) // 500)) - 1) // greatest(8, least(4096, (n + 499) // 500)))::BIGINT AS cap FROM nn), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk)), f AS MATERIALIZED (SELECT vec_id, cid, d2 FROM (SELECT e.vec_id, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS d2, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")}, c.cid) AS crk FROM e CROSS JOIN cents c) WHERE crk = 1), r1 AS MATERIALIZED (SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rk FROM f), stay AS MATERIALIZED (SELECT vec_id, cid FROM r1 WHERE rk <= (SELECT cap FROM kk)), sp AS MATERIALIZED (SELECT vec_id, cid FROM r1 WHERE rk > (SELECT cap FROM kk)), ns AS MATERIALIZED (SELECT c.cid, count(stay.vec_id)::BIGINT AS n_stay FROM cents c LEFT JOIN stay ON c.cid = stay.cid GROUP BY c.cid), slots AS MATERIALIZED (SELECT cid, unnest(generate_series(1, (SELECT cap FROM kk) - n_stay)) AS slot FROM ns WHERE n_stay < (SELECT cap FROM kk)), si AS MATERIALIZED (SELECT cid, slot, row_number() OVER (ORDER BY cid, slot) AS idx FROM slots), oi AS MATERIALIZED (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS idx FROM sp), rr AS MATERIALIZED (SELECT oi.vec_id, si.cid FROM oi JOIN si USING (idx)), bal AS (SELECT vec_id, cid FROM stay UNION ALL SELECT vec_id, cid FROM rr), n0 AS (SELECT cid, count(*)::BIGINT AS n_first FROM f GROUP BY cid), so AS (SELECT cid, count(*)::BIGINT AS n_spill_out FROM sp GROUP BY cid), ri AS (SELECT cid, count(*)::BIGINT AS n_rr_in FROM rr GROUP BY cid), n1 AS (SELECT cid, count(*)::BIGINT AS n_balanced FROM bal GROUP BY cid) SELECT c.cid, coalesce(n0.n_first, 0)::BIGINT AS n_first, coalesce(so.n_spill_out, 0)::BIGINT AS n_spill_out, coalesce(ri.n_rr_in, 0)::BIGINT AS n_rr_in, coalesce(n1.n_balanced, 0)::BIGINT AS n_balanced, (SELECT cap FROM kk)::BIGINT AS cap FROM cents c LEFT JOIN n0 USING (cid) LEFT JOIN so USING (cid) LEFT JOIN ri USING (cid) LEFT JOIN n1 USING (cid) ORDER BY c.cid""",
    // same assignment, same probe-cell ranking by centroid L2, same
    // pre-scoring 1/16 predicate; BOTH auto-knobs re-derived from
    // counts by the engine's rules — cells = autoCellCount(count(*)),
    // probes = clamp(⌈10·cells/n_allowed⌉, [1, cells]) with n_allowed
    // the measured allowed-row count (r18 verdict item 5)
    "q_embed_ivf_filtered" ->
      s"""WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings), kk AS MATERIALIZED (SELECT greatest(8, least(4096, (n + 499) // 500))::BIGINT AS k FROM nn), na AS MATERIALIZED (SELECT greatest(count(*), 1)::BIGINT AS m FROM embeddings WHERE vec_id <> 0 AND vec_id % 16 = 1), pp AS MATERIALIZED (SELECT greatest(1, least((SELECT k FROM kk), (10 * (SELECT k FROM kk) + m - 1) // m))::INT AS probes FROM na), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk)), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS MATERIALIZED (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0), pc AS MATERIALIZED (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${foldSql("list_transform(range(1, 65), i -> (cv[i] - qv[i]) * (cv[i] - qv[i]))")}, c.cid) AS rk FROM cents c CROSS JOIN q) WHERE rk <= (SELECT probes FROM pp)), sc AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN pc ON a.cid = pc.cid CROSS JOIN q WHERE a.vec_id <> 0 AND a.vec_id % 16 = 1) SELECT vec_id, round(score0, 4) AS score, (SELECT probes FROM pp)::INT AS n_probes, (SELECT k FROM kk)::INT AS n_cells FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // identical semantics to q_embed_ivf — the engine-side difference
    // append-maintained index == full rebuild (assignment is
    // row-local), so the same batch SQL oracles the append path too
    "q_embed_ivf_append" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), qcell AS (SELECT cid AS qcid, v AS qv FROM assigned WHERE vec_id = 0), sc AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN qcell ON a.cid = qcell.qcid WHERE a.vec_id <> 0) SELECT vec_id, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // the monitor's accumulated counts equal the batch window counts
    // (additive), so this is q_events_psi's oracle verbatim
    "q_stream_psi" ->
      """WITH ev AS (SELECT event_type, ts::DATE AS day, greatest(least((round(value, 2)::DECIMAL(12,2) * 100)::BIGINT // 2500, 11), 0) AS b FROM events WHERE value IS NOT NULL), d0 AS (SELECT min(day) AS d0 FROM ev), cnt AS (SELECT event_type, b, sum(CASE WHEN date_diff('day', d0.d0, ev.day) < 8 THEN 1 ELSE 0 END)::BIGINT AS na, sum(CASE WHEN date_diff('day', d0.d0, ev.day) >= 8 THEN 1 ELSE 0 END)::BIGINT AS nb FROM ev CROSS JOIN d0 GROUP BY event_type, b), spine AS (SELECT DISTINCT event_type, unnest(range(12)) AS b FROM ev), fl AS (SELECT s.event_type, s.b, coalesce(c.na, 0) AS na, coalesce(c.nb, 0) AS nb FROM spine s LEFT JOIN cnt c ON s.event_type = c.event_type AND s.b = c.b), tt AS (SELECT event_type, sum(na) + 12 AS na1, sum(nb) + 12 AS nb1 FROM fl GROUP BY event_type), tm AS (SELECT fl.event_type, tt.na1, tt.nb1, round((((fl.na + 1)::DOUBLE / tt.na1) - ((fl.nb + 1)::DOUBLE / tt.nb1)) * ln(((fl.na + 1) * tt.nb1)::DOUBLE / ((fl.nb + 1) * tt.na1)::DOUBLE), 8)::DECIMAL(38,18) AS term FROM fl JOIN tt USING (event_type)) SELECT event_type, (max(na1) - 12)::BIGINT AS n_ref, (max(nb1) - 12)::BIGINT AS n_mon, round(sum(term)::DOUBLE, 6) AS psi FROM tm GROUP BY event_type ORDER BY event_type""",
    // the streamed postings maintain per-doc rows whose global
    // statistics are ASSOCIATIVE aggregates (df = count of a term's
    // posting rows, totals = count/sum of doc-stat rows), so the
    // maintained index answers the query-term BM25 ranking exactly
    // like a batch derivation: the hybrid sparse-leg SQL with the
    // decimal-summed score exposed
    "q_stream_postings_upsert" ->
      s"""WITH $hybridSparseSql, sp3 AS (SELECT doc_id, s_score, row_number() OVER (ORDER BY s_score DESC, doc_id) AS rs FROM sp0 QUALIFY rs <= 20) SELECT doc_id::BIGINT AS doc_id, s_score, rs::INT AS rs FROM sp3 ORDER BY rs""",
    // the streamed upsert maintains an index content-identical to the
    // full batch assignment (row-local centroid assignment, append-only
    // partition writes), so its probe oracle is ivf_append's verbatim
    "q_stream_ivf_upsert" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), qcell AS (SELECT cid AS qcid, v AS qv FROM assigned WHERE vec_id = 0), sc AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN qcell ON a.cid = qcell.qcid WHERE a.vec_id <> 0) SELECT vec_id, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // same integer popularity weight, same raw dot fold, same single
    // round(4) after the product, same (score desc, id) tiebreak
    "q_embed_mips" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), q AS (SELECT v AS qv FROM e WHERE vec_id = 0) SELECT vec_id, round(((vec_id % 7) + 1)::DOUBLE * ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")}, 4) AS score FROM e CROSS JOIN q WHERE vec_id <> 0 ORDER BY score DESC, vec_id LIMIT 10""",
    // same exact-decimal scaled centering y = n·x − Σx and scaled
    // covariance cells (the oracle builds the outer product via a
    // vec_id self-join — different plan, identical cells), same six
    // exact-decimal power iterations, same ‖Mv‖/n³ eigenvalue readout
    // same ±1 parity targets, same round(6)→DECIMAL(12,6) features,
    // same three unrolled exact-decimal batch epochs (margins
    // DECIMAL(38,12), sign-conditional misclassification test,
    // DECIMAL(20,6) weight folds) — no float enters until the final
    // ::DOUBLE readout of 6-dp decimals (exact in binary)
    "q_embed_perceptron" -> {
      val epochs = (1 to 3).map { r =>
        s"m$r AS MATERIALIZED (SELECT vec_id, max(y) AS y, sum((w * x)::DECIMAL(38,12)) AS mg FROM ex JOIN w${r - 1} USING (j) GROUP BY vec_id), " +
          s"b$r AS MATERIALIZED (SELECT vec_id FROM m$r WHERE (y = 1 AND mg <= 0) OR (y = -1 AND mg >= 0)), " +
          s"g$r AS (SELECT j, sum(y * x)::DECIMAL(20,6) AS g FROM ex JOIN b$r USING (vec_id) GROUP BY j), " +
          s"w$r AS MATERIALIZED (SELECT w${r - 1}.j, (w${r - 1}.w + coalesce(g$r.g, 0))::DECIMAL(20,6) AS w FROM w${r - 1} LEFT JOIN g$r ON w${r - 1}.j = g$r.j), " +
          s"er$r AS (SELECT count(*)::BIGINT AS err FROM b$r)"
      }.mkString(", ")
      val rows = (1 to 3).map { r =>
        s"SELECT $r::INT AS epoch, j::INT AS dim, w::DOUBLE AS w, (SELECT err FROM er$r) AS err FROM w$r"
      }.mkString(" UNION ALL ")
      s"""WITH ex AS MATERIALIZED (SELECT vec_id, CASE WHEN label % 2 = 0 THEN 1 ELSE -1 END AS y, j, round(va[j], 6)::DECIMAL(12,6) AS x FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS va FROM embeddings) CROSS JOIN LATERAL (SELECT unnest(range(1, 65)) AS j) r), w0 AS (SELECT unnest(range(1, 65))::BIGINT AS j, 0::DECIMAL(20,6) AS w), $epochs SELECT epoch, dim, w, err FROM ($rows) ORDER BY epoch, dim"""
    },
    "q_embed_pca" -> pcaOracleSql(),
    // the identical pipeline over the md5-deterministic hash-modulus
    // row sample, m re-derived from count(*) by the same integer rule
    // as Similarity.autoSampleModulus — both engines pick the same
    // rows, and the centering n is the SAMPLE count on both sides
    "q_embed_pca_sampled" ->
      pcaOracleSql(
        src = "smp",
        extraCols = ", (SELECT m FROM mm)::INT AS modulus",
        prefixCtes = "mm AS MATERIALIZED (SELECT greatest(1, (count(*) + 12499) // 12500) AS m FROM embeddings), smp AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % (SELECT m FROM mm) = 0), "),
    // same term-local round(6) components, same decimal-sum means,
    // same rounded squared-gap terms
    // same exact-decimal distances and argmax/tiebreak chain, rounds
    // unrolled as generated CTEs
    "q_sample_coreset" ->
      (s"""WITH ex AS MATERIALIZED (SELECT vec_id, j, round(va[j], 6)::DECIMAL(18,6) AS x FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS va FROM embeddings) CROSS JOIN LATERAL (SELECT unnest(range(1, 65)) AS j) r), d0 AS MATERIALIZED (SELECT e2.vec_id, sum(((e2.x - c.x)::DECIMAL(19,6) * (e2.x - c.x)::DECIMAL(19,6))::DECIMAL(38,12))::DECIMAL(24,12) AS md FROM ex e2 JOIN (SELECT j, x FROM ex WHERE vec_id = 0) c ON e2.j = c.j WHERE e2.vec_id <> 0 GROUP BY e2.vec_id), ${coresetStepsSql(8)} SELECT 0::INT AS step, 0::BIGINT AS vec_id, 0.0::DOUBLE AS radius """ +
        (1 to 8).map(k =>
          s"UNION ALL SELECT $k::INT, (SELECT vec_id FROM s$k)::BIGINT, (SELECT md::DOUBLE FROM s$k)").mkString(" ") +
        " ORDER BY step"),
    // same division-free exact-decimal pipeline: scaled centroid gap
    // e = n·x − Σx, scaled squared distance d2s = Σe², integer-rounded
    // deviation dd = round(n·d2s − Σd2s) — only the final z divides,
    // under the sqrt, so no rounded value can sit on a half boundary
    "q_embed_outlier" ->
      """WITH ev AS (SELECT vec_id, label, list_transform(embedding, y -> y::DOUBLE) AS v FROM embeddings), e AS (SELECT vec_id, label, j, round(v[j], 6)::DECIMAL(18,6) AS x FROM ev CROSS JOIN LATERAL (SELECT unnest(range(1, 65)) AS j) r), g AS (SELECT label, j, sum(x)::DECIMAL(24,6) AS sx, count(*)::DECIMAL(4,0) AS nl FROM e GROUP BY label, j), d2 AS (SELECT vec_id, e.label, sum(((x * nl - sx)::DECIMAL(19,6) * (x * nl - sx)::DECIMAL(19,6))::DECIMAL(38,12))::DECIMAL(24,12) AS d2s FROM e JOIN g ON e.label = g.label AND e.j = g.j GROUP BY vec_id, e.label), st AS (SELECT label, sum(d2s)::DECIMAL(28,12) AS sd2, count(*)::DECIMAL(4,0) AS n FROM d2 GROUP BY label), ddt AS (SELECT vec_id, d2.label, n, round(d2.d2s * n - sd2, 0)::DECIMAL(18,0) AS dd FROM d2 JOIN st ON d2.label = st.label), tt AS (SELECT label, sum((dd::DECIMAL(19,0) * dd::DECIMAL(19,0))::DECIMAL(38,0)) AS tt, max(n) AS n2 FROM ddt GROUP BY label) SELECT ddt.vec_id, ddt.label, round(ddt.dd::DOUBLE / sqrt(tt.tt::DOUBLE / tt.n2::DOUBLE), 4) AS z FROM ddt JOIN tt ON ddt.label = tt.label WHERE tt.tt > 0 ORDER BY z DESC, vec_id LIMIT 20""",
    "q_embed_drift" ->
      """WITH ex AS (SELECT vec_id, label, t.i AS pos, round(embedding[t.i + 1]::DOUBLE, 6)::DECIMAL(38,8) AS x FROM embeddings CROSS JOIN range(64) t(i)), g AS (SELECT label, pos, round(sum(CASE WHEN vec_id % 2 = 0 THEN x END)::DOUBLE / sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END), 6) AS mref, round(sum(CASE WHEN vec_id % 2 = 1 THEN x END)::DOUBLE / sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END), 6) AS mcur FROM ex GROUP BY 1, 2), tm AS (SELECT label, round((mcur - mref) * (mcur - mref), 8) AS t FROM g) SELECT label, round(sum(t::DECIMAL(38,18))::DOUBLE, 6) AS drift2 FROM tm GROUP BY label ORDER BY label""",
    // compaction == the tombstone mask, exactly: the delete oracle
    // verbatim (rebuilt-without-rows is what compaction materializes)
    "q_embed_ivf_compact" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), qcell AS (SELECT cid AS qcid, v AS qv FROM assigned WHERE vec_id = 0), sc AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN qcell ON a.cid = qcell.qcid WHERE a.vec_id <> 0 AND a.vec_id % 7 <> 3) SELECT vec_id, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // the same batch IVF minus the tombstoned ids — a tombstone-masked
    // index answers exactly like one rebuilt without those rows
    "q_embed_ivf_delete" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), qcell AS (SELECT cid AS qcid, v AS qv FROM assigned WHERE vec_id = 0), sc AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN qcell ON a.cid = qcell.qcid WHERE a.vec_id <> 0 AND a.vec_id % 7 <> 3) SELECT vec_id, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // (persisted bucketed index + literal-cid bucket-pruned probe vs
    // recompute-per-query) is a LAYOUT choice, invisible to the oracle
    "q_embed_ivf_indexed" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), qcell AS (SELECT cid AS qcid, v AS qv FROM assigned WHERE vec_id = 0), sc AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN qcell ON a.cid = qcell.qcid WHERE a.vec_id <> 0) SELECT vec_id, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // same prefix folds (dot, both norms), same round(4)/tiebreak
    // rankings, hits counted against the full-dims top-10
    "q_embed_matryoshka" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), q AS (SELECT v AS qv FROM e WHERE vec_id = 0), """ +
        Seq(16, 32, 64).map { p =>
          s"s$p AS (SELECT vec_id, round(${foldSql(s"list_transform(range(1, ${p + 1}), i -> v[i] * qv[i])")} / sqrt(${foldSql(s"list_transform(range(1, ${p + 1}), i -> v[i] * v[i])")} * ${foldSql(s"list_transform(range(1, ${p + 1}), i -> qv[i] * qv[i])")}), 4) AS score FROM e CROSS JOIN q WHERE vec_id <> 0 ORDER BY score DESC, vec_id LIMIT 10)"
        }.mkString(", ") +
        """ SELECT 16::INT AS dims, (SELECT count(*) FROM s16 WHERE vec_id IN (SELECT vec_id FROM s64))::BIGINT AS hits, round((SELECT count(*) FROM s16 WHERE vec_id IN (SELECT vec_id FROM s64)) / 10.0, 4) AS recall_at_10 UNION ALL SELECT 32::INT, (SELECT count(*) FROM s32 WHERE vec_id IN (SELECT vec_id FROM s64))::BIGINT, round((SELECT count(*) FROM s32 WHERE vec_id IN (SELECT vec_id FROM s64)) / 10.0, 4) ORDER BY dims"""),
    "q_embed_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), qcell AS (SELECT cid AS qcid, v AS qv FROM assigned WHERE vec_id = 0), sci AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN qcell ON a.cid = qcell.qcid WHERE a.vec_id <> 0), ivf AS (SELECT vec_id FROM (SELECT vec_id, round(score0, 4) AS score FROM sci ORDER BY score DESC, vec_id LIMIT 10)), q AS (SELECT v AS qv FROM e WHERE vec_id = 0), scb AS (SELECT vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM e, q WHERE e.vec_id <> 0), bf AS (SELECT vec_id FROM (SELECT vec_id, round(score0, 4) AS score FROM scb ORDER BY score DESC, vec_id LIMIT 10)) SELECT count(*)::BIGINT AS hits, round(count(*) / 10.0, 4) AS recall_at_10 FROM ivf JOIN bf USING (vec_id)""",
    "q_embed_ivf_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), q AS (SELECT v AS qv FROM e WHERE vec_id = 0), qc AS (SELECT cid AS qcid FROM (SELECT c.cid, ${foldSql("list_transform(range(1, 65), i -> (cv[i] - qv[i]) * (cv[i] - qv[i]))")} AS qd FROM cents c CROSS JOIN q ORDER BY qd, c.cid LIMIT 2)), sci AS (SELECT a.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM assigned a JOIN qc ON a.cid = qc.qcid CROSS JOIN q WHERE a.vec_id <> 0), ivf AS (SELECT vec_id FROM (SELECT vec_id, round(score0, 4) AS score FROM sci ORDER BY score DESC, vec_id LIMIT 10)), scb AS (SELECT vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM e, q WHERE e.vec_id <> 0), bf AS (SELECT vec_id FROM (SELECT vec_id, round(score0, 4) AS score FROM scb ORDER BY score DESC, vec_id LIMIT 10)) SELECT count(*)::BIGINT AS hits, round(count(*) / 10.0, 4) AS recall_at_10 FROM ivf JOIN bf USING (vec_id)""",
    // same hamming top-50 candidates, same exact top-10, same
    // recall formula as q_embed_recall
    "q_embed_binary_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), c AS (SELECT vec_id, v, list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 33), i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)), (x, y) -> x + y) AS b0, list_reduce(list_prepend(0::BIGINT, list_transform(range(33, 65), i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END)), (x, y) -> x + y) AS b1 FROM e), q AS (SELECT v AS qv, b0 AS qb0, b1 AS qb1 FROM c WHERE vec_id = 0), h AS (SELECT c.vec_id, (bit_count(xor(c.b0, q.qb0)) + bit_count(xor(c.b1, q.qb1)))::INT AS hamming FROM c CROSS JOIN q WHERE c.vec_id <> 0), cand AS (SELECT vec_id FROM h ORDER BY hamming, vec_id LIMIT 50), sc AS (SELECT e.vec_id, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM e CROSS JOIN q WHERE e.vec_id <> 0), ex AS (SELECT vec_id FROM (SELECT vec_id, round(score0, 4) AS score FROM sc) ORDER BY score DESC, vec_id LIMIT 10), ht AS (SELECT count(*)::BIGINT AS hits FROM cand JOIN ex USING (vec_id)) SELECT hits, round(hits / 10.0, 4) AS recall_at_10 FROM ht""",
    // the pq oracle chain with the IVF cell restriction spliced into
    // the ADC stage; top-20 candidates, same exact rescore
    "q_embed_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), qc AS (SELECT cid AS qcid FROM assigned WHERE vec_id = 0), cellids AS (SELECT vec_id FROM assigned JOIN qc ON assigned.cid = qc.qcid), subs AS (SELECT unnest(range(8)) AS sub), vs AS (SELECT vec_id, sub, list_slice(v, sub*8+1, sub*8+8) AS sv FROM e CROSS JOIN subs), cb AS (SELECT vec_id AS code, sub, sv AS scv FROM vs WHERE vec_id BETWEEN 1 AND 16), asg AS (SELECT vec_id, sub, (min({'d': d2, 'c': code})).c AS code FROM (SELECT vs.vec_id, vs.sub, cb.code, ${foldSql("list_transform(range(1, 9), i -> (sv[i] - scv[i]) * (sv[i] - scv[i]))")} AS d2 FROM vs JOIN cb USING (sub)) GROUP BY vec_id, sub), lut AS (SELECT cb.sub, cb.code, ${foldSql("list_transform(range(1, 9), i -> scv[i] * qsv[i])")} AS pdot FROM cb JOIN (SELECT sub, sv AS qsv FROM vs WHERE vec_id = 0) q USING (sub)), ap AS (SELECT a.vec_id, round(sum(pdot::DECIMAL(28,12))::DOUBLE, 4) AS approx FROM asg a JOIN cellids USING (vec_id) JOIN lut USING (sub, code) WHERE a.vec_id <> 0 GROUP BY a.vec_id), cand AS (SELECT vec_id, approx FROM ap ORDER BY approx DESC, vec_id LIMIT 20), q AS (SELECT v AS qv FROM e WHERE vec_id = 0), sc AS (SELECT c.vec_id, c.approx, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM cand c JOIN e USING (vec_id) CROSS JOIN q) SELECT vec_id, approx, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // the ivfpq chain with the RESIDUAL subtraction spliced in: the
    // slice source is v − cv(assigned cell), codebooks are the pooled
    // residual slices of vec_ids 1..16, and the query LUT dots vec 0's
    // RAW slices against the residual codewords — dot(q, cv) is
    // constant inside the probed cell, so the raw-query ADC order is
    // the residual order (dotting the query's own residual instead
    // would NOT be order-preserving — the r16 review catch);
    // same cell restriction, same ADC sum, same rescore
    "q_embed_ivfpq_residual" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 8), dist AS (SELECT e.vec_id, e.v, c.cid, ${foldSql("list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))")} AS dist FROM e CROSS JOIN cents c), assigned AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM dist) WHERE rk = 1), wr AS (SELECT a.vec_id, a.v, a.cid, list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS r FROM assigned a JOIN cents c ON a.cid = c.cid), qc AS (SELECT cid AS qcid FROM wr WHERE vec_id = 0), cellids AS (SELECT vec_id FROM wr JOIN qc ON wr.cid = qc.qcid), subs AS (SELECT unnest(range(8)) AS sub), vs AS (SELECT vec_id, sub, list_slice(r, sub*8+1, sub*8+8) AS sv FROM wr CROSS JOIN subs), cb AS (SELECT vec_id AS code, sub, sv AS scv FROM vs WHERE vec_id BETWEEN 1 AND 16), asg AS (SELECT vec_id, sub, (min({'d': d2, 'c': code})).c AS code FROM (SELECT vs.vec_id, vs.sub, cb.code, ${foldSql("list_transform(range(1, 9), i -> (sv[i] - scv[i]) * (sv[i] - scv[i]))")} AS d2 FROM vs JOIN cb USING (sub)) GROUP BY vec_id, sub), lut AS (SELECT cb.sub, cb.code, ${foldSql("list_transform(range(1, 9), i -> scv[i] * qsv[i])")} AS pdot FROM cb JOIN (SELECT sub, list_slice(v, sub*8+1, sub*8+8) AS qsv FROM wr CROSS JOIN subs WHERE vec_id = 0) q USING (sub)), ap AS (SELECT a.vec_id, round(sum(pdot::DECIMAL(28,12))::DOUBLE, 4) AS approx FROM asg a JOIN cellids USING (vec_id) JOIN lut USING (sub, code) WHERE a.vec_id <> 0 GROUP BY a.vec_id), cand AS (SELECT vec_id, approx FROM ap ORDER BY approx DESC, vec_id LIMIT 20), q AS (SELECT v AS qv FROM e WHERE vec_id = 0), sc AS (SELECT c.vec_id, c.approx, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM cand c JOIN e USING (vec_id) CROSS JOIN q) SELECT vec_id, approx, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    // same two-halves sign-bit pack, same integer hamming top-50
    // (asc, id), same exact-cosine rescore and single round(4)
    "q_embed_binary" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), c AS (SELECT vec_id, v, list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 33), i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)), (x, y) -> x + y) AS b0, list_reduce(list_prepend(0::BIGINT, list_transform(range(33, 65), i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END)), (x, y) -> x + y) AS b1 FROM e), q AS (SELECT v AS qv, b0 AS qb0, b1 AS qb1 FROM c WHERE vec_id = 0), h AS (SELECT c.vec_id, c.v, q.qv, (bit_count(xor(c.b0, q.qb0)) + bit_count(xor(c.b1, q.qb1)))::INT AS hamming FROM c CROSS JOIN q WHERE c.vec_id <> 0), cand AS (SELECT * FROM h ORDER BY hamming, vec_id LIMIT 50), sc AS (SELECT vec_id, hamming, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM cand) SELECT vec_id, hamming, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    "q_embed_quant" ->
      """WITH ex AS (SELECT vec_id, label, t.i AS pos, embedding[t.i + 1]::DOUBLE AS x FROM embeddings CROSS JOIN range(64) t(i)), sc AS (SELECT vec_id, max(abs(x)) AS scale FROM ex GROUP BY vec_id), coded AS (SELECT label, x, CASE WHEN scale = 0 THEN 0 ELSE floor(x / scale * 127 + 0.5) END AS code, scale FROM ex JOIN sc USING (vec_id)), werr AS (SELECT label, code, x - code * scale / 127 AS err FROM coded) SELECT label, count(*)::BIGINT AS n_vals, max(abs(code))::BIGINT AS max_code, sum(abs(code))::BIGINT AS sum_abs_code, round(max(abs(err)), 6) AS max_abs_err FROM werr GROUP BY label ORDER BY label""",
    "q_explode_embed" ->
      """SELECT t.i::INT AS pos, round(avg(embedding[t.i + 1]::DOUBLE), 4) AS mean, round(min(embedding[t.i + 1]::DOUBLE), 4) AS mn, round(max(embedding[t.i + 1]::DOUBLE), 4) AS mx FROM embeddings, range(64) t(i) GROUP BY t.i ORDER BY pos""",
    // same exact-cosine top-100, same int8 code/idot/approx chain,
    // same integer ranks and one unrounded IEEE division
    "q_embed_spearman" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0), q AS (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS qscale FROM q0), qc AS (SELECT qv, qscale, list_transform(qv, x -> CASE WHEN qscale = 0 THEN 0.0 ELSE floor(x / qscale * 127 + 0.5) END) AS qcodes FROM q), ex AS (SELECT vec_id, v, qcodes, qscale, round(${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})), 4) AS score FROM e CROSS JOIN qc WHERE vec_id <> 0 ORDER BY score DESC, vec_id LIMIT 100), re AS (SELECT vec_id, v, qcodes, qscale, score, row_number() OVER (ORDER BY score DESC, vec_id) AS re FROM ex), cc AS (SELECT vec_id, re, qscale, qcodes, scale, list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0 ELSE floor(x / scale * 127 + 0.5) END) AS codes FROM (SELECT vec_id, re, qscale, qcodes, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM re)), ap AS (SELECT vec_id, re, (${foldSql("list_transform(range(1, 65), i -> codes[i] * qcodes[i])")} * scale * qscale) / 16129.0 AS approx FROM cc), rqt AS (SELECT re, row_number() OVER (ORDER BY approx DESC, vec_id) AS rq FROM ap) SELECT count(*)::BIGINT AS n, sum((re - rq) * (re - rq))::BIGINT AS sum_d2, ((count(*) * (count(*) * count(*) - 1) - 6 * sum((re - rq) * (re - rq)))::DOUBLE / (count(*) * (count(*) * count(*) - 1))::DOUBLE) AS rho FROM rqt HAVING count(*) >= 2""",
    "q_embed_rerank" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0), q AS (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS qscale FROM q0), qc AS (SELECT qv, qscale, list_transform(qv, x -> CASE WHEN qscale = 0 THEN 0.0 ELSE floor(x / qscale * 127 + 0.5) END) AS qcodes FROM q), c0 AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e WHERE vec_id <> 0), cc AS (SELECT vec_id, v, scale, list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0 ELSE floor(x / scale * 127 + 0.5) END) AS codes FROM c0), ap AS (SELECT vec_id, v, qv, (${foldSql("list_transform(range(1, 65), i -> codes[i] * qcodes[i])")} * scale * qscale) / 16129.0 AS approx FROM cc CROSS JOIN qc), cand AS (SELECT vec_id, v, qv, approx FROM ap ORDER BY approx DESC, vec_id LIMIT 50), sc AS (SELECT vec_id, approx, ${foldSql("list_transform(range(1, 65), i -> v[i] * qv[i])")} / (sqrt(${foldSql("list_transform(range(1, 65), i -> v[i] * v[i])")}) * sqrt(${foldSql("list_transform(range(1, 65), i -> qv[i] * qv[i])")})) AS score0 FROM cand) SELECT vec_id, round(approx, 4) AS approx, round(score0, 4) AS score FROM sc ORDER BY score DESC, vec_id LIMIT 10""",
    "q_multimodal_frames" ->
      """WITH f AS (SELECT doc_id, text, unnest(range(0, length(text) // 32, 4)) AS fi FROM documents WHERE length(text) >= 32) SELECT doc_id, fi::INT AS frame_idx, (fi * 32)::INT AS offset, md5(substr(text, (fi * 32 + 1)::INT, 32)) AS frame_md5 FROM f ORDER BY doc_id, frame_idx""",
    "q_dedup_editdist" ->
      s"""WITH $minhashEstSql SELECT p.doc_a, p.doc_b, levenshtein(da.text, db.text)::INT AS dist FROM pairs p JOIN documents da ON da.doc_id = p.doc_a JOIN documents db ON db.doc_id = p.doc_b WHERE levenshtein(da.text, db.text) <= 20 ORDER BY doc_a, doc_b""",
    "q_events_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events), f AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY user_id), j AS (SELECT ev.user_id, f.d0, date_diff('day', f.d0, ev.day) AS age FROM ev JOIN f ON ev.user_id = f.user_id) SELECT strftime(d0, '%Y-%m-%d') AS cohort, count(DISTINCT user_id)::BIGINT AS n_users, count(DISTINCT CASE WHEN age = 1 THEN user_id END)::BIGINT AS d1, count(DISTINCT CASE WHEN age = 7 THEN user_id END)::BIGINT AS d7 FROM j GROUP BY d0 ORDER BY cohort""",
    "q_embed_kmeans" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 4), d0 AS (SELECT e.vec_id, c0.cid, ${foldSql("list_transform(range(1, 65), i -> (e.v[i] - c0.cv[i]) * (e.v[i] - c0.cv[i]))")} AS dist FROM e CROSS JOIN c0), a1 AS (SELECT vec_id, (min({'d': dist, 'c': cid})).c AS cid FROM d0 GROUP BY vec_id), pts AS (SELECT a1.cid, t.i AS idx, e.v[t.i + 1] AS x FROM e JOIN a1 USING (vec_id) CROSS JOIN range(64) t(i)), upd AS (SELECT cid, idx, sum(x::DECIMAL(18,6))::DOUBLE / count(*) AS c FROM pts GROUP BY cid, idx), u2 AS (SELECT cid, list(c ORDER BY idx) AS cv FROM upd GROUP BY cid), d1 AS (SELECT e.vec_id, u2.cid, ${foldSql("list_transform(range(1, 65), i -> (e.v[i] - u2.cv[i]) * (e.v[i] - u2.cv[i]))")} AS dist FROM e CROSS JOIN u2), a2 AS (SELECT vec_id, (min({'d': dist, 'c': cid})).c AS cid FROM d1 GROUP BY vec_id) SELECT cid, count(*)::BIGINT AS sz, min(vec_id)::BIGINT AS min_vec FROM a2 GROUP BY cid ORDER BY cid""",
    // the kmeans oracle chain through a2, then label-majority + purity
    "q_embed_purity" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND 4), d0 AS (SELECT e.vec_id, c0.cid, ${foldSql("list_transform(range(1, 65), i -> (e.v[i] - c0.cv[i]) * (e.v[i] - c0.cv[i]))")} AS dist FROM e CROSS JOIN c0), a1 AS (SELECT vec_id, (min({'d': dist, 'c': cid})).c AS cid FROM d0 GROUP BY vec_id), pts AS (SELECT a1.cid, t.i AS idx, e.v[t.i + 1] AS x FROM e JOIN a1 USING (vec_id) CROSS JOIN range(64) t(i)), upd AS (SELECT cid, idx, sum(x::DECIMAL(18,6))::DOUBLE / count(*) AS c FROM pts GROUP BY cid, idx), u2 AS (SELECT cid, list(c ORDER BY idx) AS cv FROM upd GROUP BY cid), d1 AS (SELECT e.vec_id, u2.cid, ${foldSql("list_transform(range(1, 65), i -> (e.v[i] - u2.cv[i]) * (e.v[i] - u2.cv[i]))")} AS dist FROM e CROSS JOIN u2), a2 AS (SELECT vec_id, (min({'d': dist, 'c': cid})).c AS cid FROM d1 GROUP BY vec_id), pl AS (SELECT a2.cid, em.label::INT AS label, count(*)::BIGINT AS n FROM a2 JOIN embeddings em ON a2.vec_id = em.vec_id GROUP BY 1, 2), mj AS (SELECT cid, sum(n)::BIGINT AS sz, (min({'negn': -n, 'l': label})).l AS maj_label, (-((min({'negn': -n, 'l': label})).negn))::BIGINT AS n_maj FROM pl GROUP BY cid) SELECT cid, sz, maj_label, n_maj, round(sum(n_maj) OVER ()::DOUBLE / sum(sz) OVER (), 4) AS purity FROM mj ORDER BY cid""",
    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text))::INT AS nbytes, (octet_length(encode(text)) % 64 + 1)::INT AS w, (octet_length(encode(text)) // 64 % 64 + 1)::INT AS h, ascii(substr(text, 1, 1))::INT AS b0 FROM documents ORDER BY doc_id""")
}
