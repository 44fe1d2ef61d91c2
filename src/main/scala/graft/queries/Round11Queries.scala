package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.Sources
import graft.ext.{EvalStats, IvfPq, NearDup, Similarity, TextHash}
import graft.engine.Cleaning.duckNormalizeText
import graft.ext.NearDup.duckConnectedComponents
import graft.ext.Similarity.{duckDot, duckD2}
import graft.ext.TextAnalysis.duckTokens

/** Round-11 additions — closing VERDICT_r10's two open lifecycle loops:
  *   - q503: the graph-walk recall DEFECT FIX — q500 measured 20% recall
  *     and diagnosed it as entry-coverage-bound; re-measurement showed the
  *     real cap is NAVIGABILITY (51/60 true neighbors live in a different
  *     IVF cell than their query, and the mutual-kNN substrate has no
  *     cross-cell edges — seeding every component's representative still
  *     reads 20%). The fix is the NSW move, cross-cell long-range edges
  *     ([[graft.ext.Similarity.crossCellLongRangeEdges]]); the SAME walk
  *     budget as q500 (entries=32, hops=4, beam=8) then reads 65%
  *     measured recall at sf0.01 — audited and hash-gated here.
  *   - q504: the index-health decide -> ACT loop — q502 computes a pinned
  *     rebuild flag that nothing consumed; this gate measures health from
  *     a stale artifact (frozen-index delta ingest + its ingest ledger),
  *     ACTS on the fired flag (full refit, atomically swapped over the
  *     live artifact, ledger reset), and re-measures health from the
  *     swapped artifact: delta share back to zero, flag cleared, artifact
  *     bit-equal to a from-first-principles refit.
  * Plus the round's later additions: q505 (the beam-width end of the
  * recall/cost curve), q506 (hot-partition compaction heal), q507
  * (streaming ANN SERVING — queries answered from the persisted artifact
  * per micro-batch, the lifecycle's last leg), q508 (mixture-weighted
  * interleave — the deterministic stride schedule that executes q204's
  * mixture plan) and q509 (leakage-free train/val/test split — the split
  * unit is the near-dup connected component, with the zero-leakage
  * guarantee measured, not just argued).
  * Same determinism discipline as the whole registry: exact-decimal
  * centroids, sequential-fold distances, total-order ties, integer-micro
  * ratios, DuckDB oracle twins from first principles.
  */
object Round11Queries {

  /** The navigable proximity graph as a CTE chain: the mutual-kNN pairs
    * (`mu`, from Round7Queries.MutualKnnCte — which also defines the
    * normed corpus `e`) UNION one long-range edge per (vector, foreign
    * cell): each vector's 2 nearest FOREIGN cells by exact centroid L2
    * (`ccents` mirrors Similarity.exactCentroids: exact decimal mean,
    * 2^48 scaling), then the highest-cosine vector within each — the
    * DuckDB twin of [[graft.ext.Similarity.crossCellLongRangeEdges]].
    * Ends with relation `nav(id_a, id_b)`.
    */
  private val NavGraphCte: String = s"""
        ${Round7Queries.MutualKnnCte}, ${Similarity.duckExactCentroids("ccm", "ccents", "embeddings")}, fcell AS (
          SELECT vec_id, qv, qn, cell FROM (
            SELECT q.vec_id, q.embedding AS qv, q.nrm AS qn, c.cell,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     ${duckD2("q.embedding", "c.centroid", "len(q.embedding)")},
                     c.cell) AS rn
            FROM e q JOIN ccents c ON c.cell <> q.label)
          WHERE rn <= 2
        ), lre AS (
          SELECT DISTINCT LEAST(vec_id, nid) AS id_a, GREATEST(vec_id, nid) AS id_b
          FROM (
            SELECT f.vec_id, n.vec_id AS nid,
                   row_number() OVER (PARTITION BY f.vec_id, f.cell
                     ORDER BY ${duckDot("f.qv", "n.embedding")} / (f.qn * n.nrm)
                       DESC, n.vec_id) AS rn
            FROM fcell f JOIN e n ON n.label = f.cell)
          WHERE rn = 1
        ), nav AS (
          SELECT id_a, id_b FROM mu UNION SELECT id_a, id_b FROM lre
        )""".stripMargin.trim

  /** q504's delta split: identical to q499/q501/q502's — the same fixed
    * pseudo-random ~1/8 of the corpus plays the incrementally-ingested
    * batch, so q504's pre-rebuild dials line up with q502's monitor.
    */
  private val DeltaPredDuck =
    s"${TextHash.duckHash60("'ixdelta#' || CAST(vec_id AS VARCHAR)")} % 8 = 0"

  private def deltaPredSpark =
    pmod(TextHash.hash60(concat(lit("ixdelta#"), col("vec_id").cast("string"))),
      lit(8L)) === 0L

  /** The version-B snapshot staging shared by q510/q511/q512 — ONE source
    * of truth for the change classes (hash bucket 0 of 10 removed, bucket 1
    * content-revised, bucket 2 cloned to a new id), in both engines. Clone
    * ids are NEGATIVE (`-doc_id - 1`): disjoint from the fixture's
    * non-negative id space at ANY corpus size, where an additive offset
    * collides once the corpus outgrows it (the q506 fixture-stability
    * lesson, and the 10x rehearsal offsets replica ids by k*1e9).
    */
  private[queries] def snapBucket = pmod(TextHash.hash60(
    concat(lit("snap#"), col("doc_id").cast("string"))), lit(10L))

  /** Version B of the corpus: (doc_id, text). */
  private[queries] def stagedB(docs: DataFrame): DataFrame =
    docs.withColumn("__b", snapBucket)
      .filter(col("__b") =!= 0)
      .select(col("doc_id"),
        when(col("__b") === 1, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.withColumn("__b", snapBucket)
        .filter(col("__b") === 2)
        .select((-col("doc_id") - lit(1L)).as("doc_id"),
          concat(col("text"), lit(" new")).as("text")))

  /** Ids leaving the version-A state (removed + changed originals). */
  private[queries] def goneIds(docs: DataFrame): DataFrame =
    docs.withColumn("__b", snapBucket)
      .filter(col("__b").isin(0L, 1L)).select("doc_id")

  /** The change slice of version B (revised originals + clones) — built
    * from the staging's own construction, never inferred from id ranges.
    */
  private[queries] def freshSlice(docs: DataFrame): DataFrame =
    docs.withColumn("__b", snapBucket)
      .filter(col("__b") === 1)
      .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"))
      .unionByName(docs.withColumn("__b", snapBucket)
        .filter(col("__b") === 2)
        .select((-col("doc_id") - lit(1L)).as("doc_id"),
          concat(col("text"), lit(" new")).as("text")))

  /** The q511 incremental-dedup maintenance path, factored for reuse
    * (round 12 — q517 drives the same machinery inside the end-to-end
    * chain): builds the version-A membership table (doc_id, fp) in 16
    * fingerprint-bucket partitions under the given scratch name, flows the
    * q510 change set through the commit log's partition-scoped merge
    * (TxLog.applyChanges), and returns the MAINTAINED table read back
    * from its latest snapshot. Every call re-stages from scratch (gates
    * must be rerunnable).
    */
  private[queries] def incrementalMembers(s: SparkSession, dir: String,
      scrName: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val scr = graft.engine.Scratch.dir(s, dir, scrName)
    graft.engine.Scratch.rm(scr)
    val mPath = s"$scr/members"
    val docs = Tables.documents(s, dir)
    def fpb(c: org.apache.spark.sql.Column) =
      pmod(TextHash.hash60(c), lit(16L))
    val aFp = docs.select(col("doc_id"),
      graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
    graft.engine.TxLog.append(
      aFp.withColumn("fpb", fpb(col("fp"))), mPath, Some("fpb"))
    val bFp = stagedB(docs).select(col("doc_id"),
      graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
    val d = graft.engine.Snapshot.diff(aFp, bFp, "doc_id", "fp")
    val deletes = d.filter(col("status").isin("removed", "changed"))
      .select("doc_id")
      .join(aFp, Seq("doc_id"))
      .select(col("doc_id"), fpb(col("fp")).as("fpb"))
    val upserts = bFp
      .join(d.filter(col("status").isin("added", "changed"))
        .select("doc_id"), Seq("doc_id"))
      .withColumn("fpb", fpb(col("fp")))
    graft.engine.TxLog.applyChanges(
      s, mPath, deletes, upserts, "doc_id", "fpb")
    graft.engine.TxLog.read(s, mPath)
  }

  /** The q512 incremental-LSH maintenance path, factored for reuse (round
    * 12 — q515/q517 consume the maintained version-B pair set): kept
    * unchanged-unchanged pairs from the version-A artifact plus the fresh
    * slice's bucket-joined, exact-verified regenerated pairs. Returns
    * (id_a, id_b, jaccard).
    */
  private[queries] def incrementalBPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = Tables.documents(s, dir)
    // the change set: removed/changed ids leave the state; the fresh
    // slice (revised originals + clones) is the only text re-processed
    // — both come from the staging helpers' own construction, never
    // inferred from id ranges (an id-range sentinel breaks on any
    // corpus whose real ids overlap it, e.g. the 10x rehearsal's
    // offset replicas). The maintenance itself is the ENGINE operator
    // (NearDup.incrementalPairs, round 13 — factored so the B -> C step
    // of q521 applies the identical machinery): A-state artifacts in,
    // maintained pair set out.
    NearDup.incrementalPairs(
      SharedFrames.verifiedDocPairs(s, dir),
      SharedFrames.minhashSigs(s, dir),
      SharedFrames.docShingles(s, dir, 3),
      goneIds(docs), freshSlice(docs),
      "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.8)
  }

  /** Version-B MinHash signature state, derived DELTA-WISE from the A
    * artifacts (round 13 — the persisted-state input q521's B -> C step
    * reads): unchanged docs keep their artifact signatures; only the
    * fresh slice is re-signed. Persisted by SharedFrames.bSigs.
    */
  private[queries] def bSigsLive(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = Tables.documents(s, dir)
    SharedFrames.minhashSigs(s, dir)
      .join(goneIds(docs), Seq("doc_id"), "left_anti")
      .unionByName(NearDup.minHashSignatureFrame(
        NearDup.shingleFrame(freshSlice(docs), "doc_id", "text", 3),
        "doc_id", 64))
  }

  /** Version-B shingle state, same delta-wise derivation as [[bSigsLive]].
    * Persisted by SharedFrames.bShingles.
    */
  private[queries] def bShinglesLive(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = Tables.documents(s, dir)
    SharedFrames.docShingles(s, dir, 3)
      .join(goneIds(docs), Seq("doc_id"), "left_anti")
      .unionByName(NearDup.shingleFrame(freshSlice(docs), "doc_id", "text", 3))
  }

  /** The q508 mixture-interleave schedule: (doc_id, lang, dom_pos, vt,
    * sched_pos) — shared by q508 (the gated schedule itself) and q513
    * (token-budget shard packing over it). Two two-phase global ranks
    * plus a domain-bounded offset broadcast; see q508's gate comment for
    * the full scale rationale.
    */
  private def mixtureSchedule(s: SparkSession, dir: String): DataFrame =
    mixtureScheduleOver(s, Tables.documents(s, dir))

  /** [[mixtureSchedule]] generalized over the document set (round 12 —
    * q517 schedules the version-B TRAIN corpus): any frame carrying
    * (doc_id, lang).
    */
  private[queries] def mixtureScheduleOver(s: SparkSession, srcDocs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = srcDocs.select(col("doc_id"), col("lang"))
      .withColumn("h",
        TextHash.hash60(concat(lit("mix1#"), col("doc_id").cast("string"))))
    val ranked = graft.engine.Keys.rankByScalable(
      docs, Seq(col("lang"), col("h"), col("doc_id")), "gpos")
    val bases = ranked.groupBy("lang").agg(min(col("gpos")).as("lang_base"))
    val vt = ranked.join(broadcast(bases), Seq("lang"))
      .withColumn("dom_pos", col("gpos") - col("lang_base") + lit(1L))
      .withColumn("w",
        when(col("lang") === "en", lit(4L))
          .when(col("lang") === "zh", lit(1L))
          .otherwise(lit(2L)))
      .withColumn("vt", expr("dom_pos * 1000000 DIV w"))
      .select(col("doc_id"), col("lang"), col("dom_pos"), col("vt"))
    graft.engine.Keys.rankByScalable(
      vt, Seq(col("vt"), col("lang"), col("doc_id")), "sched_pos")
  }

  /** DuckDB twin of [[stagedB]]: CTEs `hb(doc_id, text, b)` and
    * `bsrc(doc_id, text)`.
    */
  private[queries] val SnapshotBCte: String = s"""
        hb AS (
          SELECT doc_id, text,
                 ${TextHash.duckHash60("'snap#' || CAST(doc_id AS VARCHAR)")}
                   % 10 AS b
          FROM documents
        ), bsrc AS (
          SELECT doc_id,
                 CASE WHEN b = 1 THEN text || ' rev2' ELSE text END AS text
          FROM hb WHERE b <> 0
          UNION ALL
          SELECT -doc_id - 1 AS doc_id, text || ' new' AS text
          FROM hb WHERE b = 2
        )""".stripMargin.trim

  val qs: Seq[Q] = Seq(

    // Navigable-graph beam-search recall — the q500 defect FIXED at the
    // SAME walk budget. q500's audit read 20% and SURVEY blamed entry
    // coverage; the round-11 re-measurement (all 19 non-singleton
    // components seeded: still 20%; all graph nodes seeded: 95%) showed
    // the cap is CROSS-CELL NAVIGABILITY — 51/60 true top-3 neighbors are
    // in a different IVF cell, and the mutual-kNN graph has no cross-cell
    // edges, so the beam can never walk toward them. The NSW fix: augment
    // with crossCellLongRangeEdges (2 nearest foreign cells per vector,
    // highest-cosine node in each). Entries/hops/beam are UNCHANGED from
    // q500 (32/4/8), so the two gates are an apples-to-apples before/after
    // of the edge set alone: 20% -> 65% measured at sf0.01. Truth rides
    // the same bounded-probe brute-force baseline.
    Q(
      "q503_navigable_beam_recall",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val probes = Similarity.hashOrderedProbes(e, "vec_id", "beam", 20)
        // The walk's `hops` copies of this edge subtree are equal, so the
        // LIVE long-range construction runs once and every hop reuses it.
        val edges = SharedFrames.mutualKnnEdges(s, dir).select("id_a", "id_b")
          .union(Similarity.crossCellLongRangeEdges(
            e, "vec_id", "embedding", "label", nForeign = 2))
          .distinct()
        val walk = Similarity.graphBeamSearch(
            corpus = e,
            edges = edges,
            queries = probes,
            idCol = "vec_id", vecCol = "embedding",
            entries = Similarity.hashOrderedProbes(
              e.select("vec_id"), "vec_id", "entry", 32),
            hops = 4, beam = 8, k = 3)
          .select("query_id", "neighbor_id")
        val brute = Similarity.topKCosine(probes, e, "vec_id", "embedding", k = 3)
          .select("query_id", "neighbor_id")
        EvalStats.recallAudit(brute, walk)
      },
      Some(s"""
        ${Round8Queries.beamWalkCteOver(20, 32, 4, 8, NavGraphCte, "nav")}, walk AS (
          SELECT query_id, node AS neighbor_id FROM (
            SELECT query_id, node,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, node) AS rn
            FROM f4)
          WHERE rn <= 3
        ), brute AS (
          SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY ${duckDot("p.qv", "c.embedding")} / (p.qn * c.nrm)
                       DESC, c.vec_id) AS rn
            FROM bprobes p JOIN ben c ON c.vec_id <> p.query_id)
          WHERE rn <= 3
        ), ${EvalStats.duckRecallAudit("brute", "walk")}
      """.trim)),

    // The recall/cost FRONTIER's second audited point: same navigable
    // graph, same entries/hops, beam WIDENED 8 -> 16 — the one knob left
    // after q503 fixed navigability (the offline sweep reads 77-78% at
    // beam 12-16 vs 65-70% at 8; hops saturate at 4). Gating two points
    // pins the operating CURVE, not a single number: a deployment picks
    // beam by recall target, and both ends of that dial are now
    // hash-audited. Per-hop cost scales linearly in beam (the frontier is
    // beam-bounded), so this is the measured price of +8-13 points of
    // recall.
    Q(
      "q505_beam_width_recall",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val probes = Similarity.hashOrderedProbes(e, "vec_id", "beam", 20)
        // reads the materialized navigable graph; q503 keeps the union's
        // construction live as the long-range operator's value gate
        val edges = SharedFrames.navEdges(s, dir)
        val walk = Similarity.graphBeamSearch(
            corpus = e,
            edges = edges,
            queries = probes,
            idCol = "vec_id", vecCol = "embedding",
            entries = Similarity.hashOrderedProbes(
              e.select("vec_id"), "vec_id", "entry", 32),
            hops = 4, beam = 16, k = 3)
          .select("query_id", "neighbor_id")
        val brute = Similarity.topKCosine(probes, e, "vec_id", "embedding", k = 3)
          .select("query_id", "neighbor_id")
        EvalStats.recallAudit(brute, walk)
      },
      Some(s"""
        ${Round8Queries.beamWalkCteOver(20, 32, 4, 16, NavGraphCte, "nav")}, walk AS (
          SELECT query_id, node AS neighbor_id FROM (
            SELECT query_id, node,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, node) AS rn
            FROM f4)
          WHERE rn <= 3
        ), brute AS (
          SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY ${duckDot("p.qv", "c.embedding")} / (p.qn * c.nrm)
                       DESC, c.vec_id) AS rn
            FROM bprobes p JOIN ben c ON c.vec_id <> p.query_id)
          WHERE rn <= 3
        ), ${EvalStats.duckRecallAudit("brute", "walk")}
      """.trim)),

    // Index-health decide -> ACT loop — q502's rebuild flag finally
    // CONSUMED (VERDICT_r10 next #4). The gate stages the stale lifecycle
    // state q501 ends in (cell-partitioned codes = base build ∪ frozen-
    // index delta assignment, plus an INGEST LEDGER — the ids that arrived
    // through the incremental path since the last full train; production
    // monitors count against a ledger, not a data predicate, because the
    // artifact itself cannot know which rows were trained), measures the
    // q502 health dials from the artifact (delta share fires: ~12.5% >=
    // 10%), then ACTS on the fired flag: full refit (IvfPq.buildIndex over
    // the current corpus), ATOMIC artifact swap (compactParquet's
    // temp-then-rename pattern — readers never see a half-written index),
    // ledger reset. The post row re-measures from the SWAPPED artifact:
    // delta share back to 0, flag cleared, and the swapped codes agree
    // with an independent in-memory refit on every (id, m) — the measured
    // proof the act landed the rebuild, not just deleted the flag.
    // stale_diff on the pre row prices what the rebuild fixes (the frozen-
    // index codes a refit would change, q499's staleness made actionable).
    // Scale shape: health is one m=0 scan of the codes artifact + a
    // 1-row ledger count; the refit is the build path (cell-bounded
    // broadcasts, corpus-linear code frames on pinned shuffles); the swap
    // is two filesystem renames.
    Q(
      "q504_ivfpq_rebuild_loop",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val scr = graft.engine.Scratch.dir(s, dir, "ivfpq_rebuild_loop")
        graft.engine.Scratch.rm(scr)
        val codesPath = s"$scr/codes"
        val ledgerPath = s"$scr/ledger"
        val e = Tables.embeddings(s, dir)
        // stale artifact: base-trained index, delta coded against it (the
        // q499/q501 incremental path), ledger = the delta arrivals. Round
        // 15: the staging comes from the shared per-session fixture
        // (SharedFrames.staleIvf — the identical centroid fit + codebook
        // train + both code assignments this gate used to re-run inside
        // its own timed region); values are byte-identical, the oracle
        // still derives them from first principles.
        graft.engine.Sinks.writePartitioned(
          SharedFrames.staleIvf(s, dir).codes
            .unionByName(SharedFrames.staleDeltaCodes(s, dir)
              .select("id", "cell", "m", "g")),
          codesPath, Seq("cell"))
        val deltaIds = e.filter(deltaPredSpark).select(col("vec_id").as("id"))
        graft.engine.Sinks.writeParquet(deltaIds, ledgerPath)
        // the refit the audit prices against — and, on a fired flag, the
        // artifact the act installs. This stays the LIVE full-corpus
        // buildIndex pipeline (the act being gated), but evaluated ONCE
        // (round 14 profiled three ~4 s refit evaluations per run, each
        // recomputing the parts twice): the refit — like any full retrain
        // — re-derives planes from the corpus it trains on (the q524 rule
        // is part of what "retrain" means).
        // cpuSpread (round 15): the corpus arrives as O(files) splits (1 at
        // sf0.1, 10 at the 10x rehearsal), and the residual-encode +
        // codebook-train CPU otherwise runs on that many cores
        val full = IvfPq.withDerivedCells(
          graft.engine.Partitions.cpuSpread(e, col("vec_id")), "embedding",
          IvfPq.derivedPlanes(e.count()))
        val fCents = Similarity.exactCentroids(full, "embedding", "cell")
        val fParts = IvfPq.residualParts(full, fCents, "vec_id", "embedding", "cell")
          // materialize: cross-action — the codebook train and the code assignment
          .localCheckpoint()
        // materialize: cross-action — kept with the refit chain; only assignCodes reads it
        val fCw = IvfPq.trainCodebooks(fParts).localCheckpoint()
        // materialize: cross-action — the pre diff, the act's write and the post diff
        val refitCodes0 = IvfPq.assignCodes(fParts, fCw).localCheckpoint()
        val refitCodes = refitCodes0.select(col("id"), col("m"), col("g").as("__fg"))
        def healthRow(phase: String): DataFrame = {
          val artifact = Sources.parquet(s, codesPath)
          val occ = artifact.filter(col("m") === 0)
            .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
          val tot = occ.agg(sum(col("n_vecs")).as("n_total"),
            max(col("n_vecs")).as("max_vecs"), count(lit(1)).as("n_cells"))
          val led = Sources.parquet(s, ledgerPath).agg(count(lit(1)).as("n_delta"))
          // both code frames are corpus-linear -> pinned shuffle join
          val dif = artifact.select(col("id"), col("m"), col("g"))
            .join(refitCodes.hint("shuffle_hash"), Seq("id", "m"))
            .agg(sum(when(col("g") =!= col("__fg"), 1L).otherwise(0L))
              .as("stale_diff"))
          tot.crossJoin(led).crossJoin(dif)
            .select(lit(phase).as("phase"),
              col("n_total").cast("long").as("n_total"),
              expr("max_vecs * 1000000 DIV n_total").as("max_share_micro"),
              expr("n_delta * 1000000 DIV n_total").as("delta_share_micro"),
              col("stale_diff"),
              when(col("n_delta") * 10 >= col("n_total")
                  || col("max_vecs") * col("n_cells") >= col("n_total") * 2,
                lit(1L)).otherwise(lit(0L)).as("rebuild"))
        }
        // MATERIALIZE the pre row before acting: the swap below replaces
        // the very files a lazy pre frame would re-read
        val pre = graft.engine.Sinks.writeAndReadBack(
          s, healthRow("pre"), s"$scr/health_pre")
        val flag = pre.head().getAs[Long]("rebuild") // 1-row bounded gate
        if (flag == 1L) {
          // ACT: full refit, staged then atomically swapped over the live
          // artifact; the ledger resets — everything is trained again
          val tmp = codesPath + "__rebuild_tmp"
          graft.engine.Sinks.writePartitioned(refitCodes0, tmp, Seq("cell"))
          val hp = new org.apache.hadoop.fs.Path(codesPath)
          val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(hp, true)
          require(fs.rename(new org.apache.hadoop.fs.Path(tmp), hp),
            s"rebuild swap failed for $codesPath")
          s.catalog.clearCache()
          graft.engine.Sinks.writeParquet(
            deltaIds.filter(lit(false)), ledgerPath)
        }
        pre.unionByName(healthRow("post")).orderBy("phase")
      },
      Some(s"""
        WITH ${Round9Queries.pqCte("f", "TRUE")}, ${Round9Queries.pqCte("b", s"NOT ($DeltaPredDuck)")},
        ${Round9Queries.DeltaAssignCte}, stale AS (
          SELECT vec_id, cell, m, g FROM bcassign
          UNION ALL
          SELECT vec_id, cell, m, g FROM dassign
        ), sdiff AS (
          SELECT COUNT(*) AS n FROM stale s
          JOIN fcassign f ON f.vec_id = s.vec_id AND f.m = s.m
          WHERE s.g <> f.g
        ), occp AS (
          -- pre-phase occupancy from the STALE artifact's own cells (base
          -- planes); post-phase from the refit's (full-corpus planes) —
          -- with derived cells the two quantizers are distinct objects
          SELECT cell, COUNT(*) AS n_vecs FROM stale WHERE m = 0 GROUP BY cell
        ), totp AS (
          SELECT SUM(n_vecs) AS n_total, MAX(n_vecs) AS max_vecs,
                 COUNT(*) AS n_cells
          FROM occp
        ), occf AS (
          SELECT cell, COUNT(*) AS n_vecs FROM fcassign WHERE m = 0 GROUP BY cell
        ), totf AS (
          SELECT SUM(n_vecs) AS n_total, MAX(n_vecs) AS max_vecs,
                 COUNT(*) AS n_cells
          FROM occf
        ), del AS (
          SELECT COUNT(*) AS n_delta FROM embeddings WHERE $DeltaPredDuck
        )
        SELECT 'pre' AS phase, CAST(t.n_total AS BIGINT) AS n_total,
               CAST(t.max_vecs * 1000000 // t.n_total AS BIGINT) AS max_share_micro,
               CAST(d.n_delta * 1000000 // t.n_total AS BIGINT) AS delta_share_micro,
               CAST(s.n AS BIGINT) AS stale_diff,
               CAST(CASE WHEN d.n_delta * 10 >= t.n_total
                           OR t.max_vecs * t.n_cells >= 2 * t.n_total
                         THEN 1 ELSE 0 END AS BIGINT) AS rebuild
        FROM totp t CROSS JOIN del d CROSS JOIN sdiff s
        UNION ALL
        -- post-act invariants (q430/q435 precedent): a completed rebuild
        -- has, BY DEFINITION, an empty ledger and a refit-identical
        -- artifact; the Spark side MEASURES both from the swapped files
        SELECT 'post', CAST(t.n_total AS BIGINT),
               CAST(t.max_vecs * 1000000 // t.n_total AS BIGINT),
               0, 0,
               CAST(CASE WHEN t.max_vecs * t.n_cells >= 2 * t.n_total
                         THEN 1 ELSE 0 END AS BIGINT)
        FROM totf t
        ORDER BY phase
      """.trim)),

    // Hot-partition compaction THROUGH the gate — the maintenance op the
    // incremental-ingest story needs healed: append-churned hot cells
    // accumulate small files (per-file open cost + task-per-file
    // scheduling dominate scans at 100 TB), and the existing whole-table
    // compaction (q298's compactParquet) heals them at full-table IO —
    // the same scale-killer shape the partition-scoped upsert just
    // removed from the write path. Sinks.compactPartitions walks the
    // bounded partition-directory listing, rewrites ONLY the leaves over
    // the file threshold (dot-prefixed staging, per-leaf temp swap), and
    // leaves compact siblings byte-identical (SourcesSpec). The gate
    // seeds the full stale code table (base ∪ frozen-delta, q501's
    // content) FRAGMENTED via a small per-file row cap, heals it, and
    // hash-gates the read-back pivot against the same from-first-
    // principles oracle as q501 — content provably untouched by layout
    // maintenance at every SF.
    Q(
      "q506_hot_partition_compaction",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val scr = graft.engine.Scratch.dir(s, dir, "hot_cell_compaction")
        graft.engine.Scratch.rm(scr)
        val codes = s"$scr/codes"
        val e = Tables.embeddings(s, dir)
        // the ingest-churned state: full code content at a SCALE-STABLE
        // fragmentation degree — target ~64 files across the table (a few
        // per cell) at ANY corpus size, so the rehearsal probes the heal
        // operator, not a fixture whose file count grows with the data
        // (a fixed 64-rows-per-file cap at 10x wrote 31k files and read as
        // a bogus 6x ratio: all fixture, no operator). Round 15: the code
        // content — base-trained index ∪ frozen-index delta codes, q501's
        // content at base-frozen derived planes — comes from the shared
        // per-session staging (SharedFrames.staleIvf) instead of a
        // per-gate centroid fit + codebook train + double assignment.
        val capRows = math.max(4L * e.count() / 64L, 1L)
        graft.engine.Sinks.writePartitioned(
          SharedFrames.staleIvf(s, dir).codes
            .unionByName(SharedFrames.staleDeltaCodes(s, dir)
              .select("id", "cell", "m", "g")),
          codes, Seq("cell"), maxRecordsPerFile = capRows)
        // heal: only over-threshold cell directories rewrite
        graft.engine.Sinks.compactPartitions(s, codes, targetFiles = 1, minFiles = 2)
        Sources.parquet(s, codes)
          .groupBy(col("id"), col("cell"))
          .agg(
            max(when(col("m") === 0, col("g"))).as("__c0"),
            max(when(col("m") === 1, col("g"))).as("__c1"),
            max(when(col("m") === 2, col("g"))).as("__c2"),
            max(when(col("m") === 3, col("g"))).as("__c3"))
          .select(col("id").as("vec_id"), col("cell").cast("long").as("cell"),
            col("__c0").cast("long").as("c0"), col("__c1").cast("long").as("c1"),
            col("__c2").cast("long").as("c2"), col("__c3").cast("long").as("c3"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH ${Round9Queries.pqCte("b", s"NOT ($DeltaPredDuck)")},
        ${Round9Queries.DeltaAssignCte}, u AS (
          SELECT vec_id, cell, m, g FROM bcassign
          UNION ALL
          SELECT vec_id, cell, m, g FROM dassign
        )
        SELECT vec_id, CAST(cell AS BIGINT) AS cell,
               CAST(MAX(CASE WHEN m = 0 THEN g END) AS BIGINT) AS c0,
               CAST(MAX(CASE WHEN m = 1 THEN g END) AS BIGINT) AS c1,
               CAST(MAX(CASE WHEN m = 2 THEN g END) AS BIGINT) AS c2,
               CAST(MAX(CASE WHEN m = 3 THEN g END) AS BIGINT) AS c3
        FROM u
        GROUP BY vec_id, cell
        ORDER BY vec_id
      """.trim)),

    // Streaming ANN SERVING — the lifecycle's last missing leg. q501
    // streams vectors INTO the index and q504 rebuilds it; this gate
    // streams queries AGAINST it: the q495 probe set arrives as three
    // files -> three rate-limited micro-batches, each answered from the
    // PERSISTED cell-partitioned artifact via the batch search
    // coordinator (nprobe=4, shortlist=40 — q495's audited operating
    // point) and appended to a batch_id-partitioned serving log through
    // the dynamic partition overwrite (a replayed batch rewrites its own
    // directory — exactly-once without a keyed merge; see
    // EventStreams.startAnnServe). The gate reads the log back, drops the
    // batch column and hash-compares against the from-first-principles
    // ADC oracle — proof the streamed serving path answers EXACTLY what
    // the batch path (q495) answers, however the arrivals were batched.
    // Scale shape per micro-batch: bounded probes broadcast, probed-cell
    // static partition filter on the codes scan (k cells touched -> k
    // inverted lists read), one new log directory written.
    Q(
      "q507_stream_ann_serve",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val base = graft.engine.Scratch.dir(s, dir, "stream_ann_serve")
        val src = base + "_src"
        Seq(base, base + "_ckpt", src).foreach(graft.engine.Scratch.rm)
        val ix = SharedFrames.ivfPqIndex(s, dir)
        val probes = Similarity.hashOrderedProbes(
            Tables.embeddings(s, dir), "vec_id", "ivfpq", 50)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        // stage arrivals as three files -> three micro-batches (the same
        // rate-limited shape as q501's ingest, so the per-batch overwrite
        // discipline is exercised across batches, not once)
        probes.repartition(3).write.parquet(src)
        val arrivals = s.readStream.schema(probes.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        graft.streaming.EventStreams.runDrained(s)(
          graft.streaming.EventStreams.startAnnServe(
            arrivals, ix, "query_id", "qv", base, base + "_ckpt",
            nprobe = 4, shortlist = 40))
        Sources.parquet(s, base)
          .select(col("query_id"), col("neighbor_id"), col("adc"))
          .orderBy("query_id", "neighbor_id")
      },
      Some(s"""
        ${Round8Queries.IvfPqCte}
        SELECT query_id, neighbor_id, adc FROM short
        ORDER BY query_id, neighbor_id
      """.trim)),

    // Mixture-weighted interleave SCHEDULE — the op that EXECUTES the
    // training mixture q204 only plans: given per-domain stride weights
    // (en 4 : de/es/fr 2 : zh 1), emit the deterministic global training
    // order in which domains appear in proportion to their weights
    // (stride scheduling: domain position r is served at integer virtual
    // time r*1e6 DIV w, and the schedule is the total order over
    // (vt, lang, doc_id) — a weight-4 domain lands 4x as often per unit
    // of virtual time as a weight-1 domain). The within-domain order is a
    // seeded hash of the doc id — the epoch shuffle: a different seed
    // re-deals every domain's order AND the interleave, so epoch N is one
    // literal away. Scale shape: NO per-domain window (at 100 TB one
    // domain is most of the corpus — Window.partitionBy(lang) would
    // funnel it through one task). Instead one two-phase global rank
    // ordered (lang, h, doc_id) makes domains contiguous, a
    // domain-bounded min-aggregate broadcasts each domain's base rank
    // back, and dom_pos is their difference; the schedule position is a
    // second two-phase rank over the virtual-time order. Both ranks are
    // range-partition + local-sort + zipWithIndex (Keys.rankByScalable) —
    // no single-task sort anywhere.
    Q(
      "q508_mixture_interleave",
      (s, dir) => mixtureSchedule(s, dir).orderBy("doc_id"),
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang,
                 ${TextHash.duckHash60("'mix1#' || CAST(doc_id AS VARCHAR)")} AS h
          FROM documents
        ), r AS (
          SELECT doc_id, lang,
                 CAST(row_number() OVER (
                   PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS dom_pos
          FROM d
        ), v AS (
          SELECT doc_id, lang, dom_pos,
                 CAST(dom_pos * 1000000 // (CASE lang WHEN 'en' THEN 4
                   WHEN 'zh' THEN 1 ELSE 2 END) AS BIGINT) AS vt
          FROM r
        )
        SELECT doc_id, lang, dom_pos, vt,
               CAST(row_number() OVER (ORDER BY vt, lang, doc_id) AS BIGINT)
                 AS sched_pos
        FROM v ORDER BY doc_id
      """.trim)),

    // LEAKAGE-FREE train/val/test split — the assignment step every
    // training pipeline runs after dedup, with the contamination failure
    // mode designed out: a near-duplicate pair straddling train and test
    // silently inflates eval, so the split unit is the near-dup CONNECTED
    // COMPONENT, not the document. Components come from the verified
    // MinHash pair set (the materialized q24-grade edges); every doc not
    // in any pair is its own component; the component's seeded hash picks
    // the split 80/10/10. Leakage is then zero BY CONSTRUCTION (split is
    // a function of the component), and the gate MEASURES it anyway:
    // n_leaky_pairs joins every verified pair against both endpoints'
    // splits and counts disagreements — pinned 0, and any regression to
    // doc-level hashing fails the value, not just the argument. Scale
    // shape: the CC fixpoint is the q61 pointer-halving loop (edge set
    // shuffles once, O(log diameter) rounds); the split map is one hash
    // over a corpus-linear frame; the audit is a bounded pair frame
    // joined twice shuffle-side; the 1-row audit scalar broadcasts back.
    Q(
      "q509_leakage_free_split",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val docs = Tables.documents(s, dir).select("doc_id")
        val pairs = SharedFrames.verifiedDocPairs(s, dir).select("id_a", "id_b")
        val cc = NearDup.connectedComponents(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"))
        val comp = docs.join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("component"))
        // the registry's ONE split function (TextAnalysis.splitAssign, the
        // q40/q430 primitive) applied at component granularity — not a
        // second hand-rolled hash formula for the same concept
        val split = comp.withColumn("split",
          graft.ext.TextAnalysis.splitAssign(col("component"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)))
        val leak = pairs
          .join(split.select(col("doc_id").as("id_a"), col("split").as("__sa"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(split.select(col("doc_id").as("id_b"), col("split").as("__sb"))
            .hint("shuffle_hash"), Seq("id_b"))
          .agg(coalesce(sum(when(col("__sa") =!= col("__sb"), 1L)
            .otherwise(0L)), lit(0L)).as("n_leaky_pairs"))
        split.crossJoin(broadcast(leak)).orderBy("doc_id")
      },
      Some(s"""
        ${("WITH RECURSIVE " + ExtQueries.MinhashPairsCte.stripPrefix("WITH ")).trim}, ${duckConnectedComponents("verified", "cc")}, comp AS (
          SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component
          FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
        ), sp AS (
          SELECT doc_id, component,
                 CASE WHEN ${TextHash.duckHash60("CAST(component AS VARCHAR)")}
                        % 100 < 80 THEN 'train'
                      WHEN ${TextHash.duckHash60("CAST(component AS VARCHAR)")}
                        % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM comp
        ), leak AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaky_pairs
          FROM verified x
          JOIN sp sa ON sa.doc_id = x.id_a
          JOIN sp sb ON sb.doc_id = x.id_b
        )
        SELECT doc_id, component, split, n_leaky_pairs
        FROM sp CROSS JOIN leak ORDER BY doc_id
      """.trim)),

    // Corpus SNAPSHOT DIFF — the data-ops primitive behind every
    // incremental path (q499/q501's delta ingest, q29-family incremental
    // dedup, SCD2 merges): a new corpus version arrives and the pipeline
    // needs the CHANGE SET by content, not a full rescan. Version B is
    // staged deterministically from the fixture (hash bucket 0 of 10
    // removed, bucket 1 content-revised, bucket 2 cloned to new ids —
    // every class populated at every SF), both sides fingerprint in the
    // scan projection, and engine/Snapshot.diff classifies each id with
    // ONE co-partitioned full-outer join: added / removed / changed /
    // unchanged. 100 TB: two content-column scans + one shuffle on the
    // id; consumers filter to the non-unchanged slice before acting.
    Q(
      "q510_snapshot_diff",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val docs = Tables.documents(s, dir)
        val a = docs.select(col("doc_id"),
          graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
        val b = stagedB(docs).select(col("doc_id"),
          graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
        graft.engine.Snapshot.diff(a, b, "doc_id", "fp")
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $SnapshotBCte, a AS (
          SELECT doc_id, md5(${duckNormalizeText("text")}) AS fp FROM documents
        ), b2 AS (
          SELECT doc_id, md5(${duckNormalizeText("text")}) AS fp FROM bsrc
        )
        SELECT COALESCE(a.doc_id, b2.doc_id) AS doc_id,
               CASE WHEN a.doc_id IS NULL THEN 'added'
                    WHEN b2.doc_id IS NULL THEN 'removed'
                    WHEN a.fp IS DISTINCT FROM b2.fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM a FULL OUTER JOIN b2 ON b2.doc_id = a.doc_id
        ORDER BY doc_id
      """.trim)),

    // INCREMENTAL exact-dedup maintenance = the q510 change set CONSUMED:
    // the dedup state is a membership table (doc_id, fp) PARTITIONED into
    // 16 fingerprint buckets; when version B arrives, only the change set
    // flows — removed/changed ids are DELETED (each delete names the
    // bucket its old fingerprint lives in, known from the diff's A side),
    // added/changed rows upserted — through the commit log's partition-
    // scoped merge (TxLog.applyChanges): touched buckets rewrite,
    // untouched buckets keep their files, an emptied bucket drops out of
    // the manifest. The gate then elects keep-first survivors from
    // the MAINTAINED table and hash-compares against from-scratch dedup
    // of version B — incremental ≡ full, the equivalence that lets a
    // 100 TB pipeline process the 1% change set instead of re-shuffling
    // the unchanged 99% every snapshot.
    Q(
      "q511_incremental_dedup",
      (s, dir) => {
        val m = incrementalMembers(s, dir, "inc_dedup")
        val canon = m.groupBy("fp").agg(min(col("doc_id")).as("canonical_id"))
        m.join(canon, Seq("fp"))
          .select(col("doc_id"), col("canonical_id"),
            (col("doc_id") === col("canonical_id")).cast("int").as("is_canonical"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $SnapshotBCte, b2 AS (
          SELECT doc_id, md5(${duckNormalizeText("text")}) AS fp FROM bsrc
        ), canon AS (
          SELECT fp, MIN(doc_id) AS canonical_id FROM b2 GROUP BY fp
        )
        SELECT b2.doc_id, canonical_id,
               CAST(CASE WHEN b2.doc_id = canonical_id THEN 1 ELSE 0 END
                 AS INTEGER) AS is_canonical
        FROM b2 JOIN canon USING (fp)
        ORDER BY doc_id
      """.trim)),

    // INCREMENTAL near-dup (MinHash/LSH) maintenance — the q511 argument
    // lifted from exact dedup to the banded pipeline, which is what a
    // daily 100 TB dedup job actually re-runs: when version B arrives,
    // only the CHANGE SLICE is shingled, signed and banded; the maintained
    // pair set is
    //   - kept: version-A verified pairs whose BOTH endpoints are
    //     unchanged (pair relations between unchanged docs cannot move);
    //   - regenerated: the new slice's band-buckets joined against the
    //     surviving bucket table (unchanged ∪ new — removed/changed docs'
    //     buckets filtered out), verified by exact Jaccard on shingle
    //     sets (unchanged side from the materialized artifact, new side
    //     fresh).
    // Candidacy is equivalent to from-scratch by construction: a B pair
    // collides in a band iff it collides here (unchanged-unchanged pairs
    // keep their A collision; any pair with a new endpoint is found by
    // the new-side bucket join). The gate hash-compares the maintained
    // set against from-scratch LSH over version B — same pairs, same
    // exact-Jaccard values. Scale: everything corpus-sized is an artifact
    // read-back or an anti-join; everything recomputed is change-slice-
    // sized; the candidate join is bucket-keyed, never all-pairs.
    Q(
      "q512_incremental_lsh",
      (s, dir) => incrementalBPairs(s, dir).orderBy("id_a", "id_b"),
      Some(s"""
        WITH $SnapshotBCte,
        ${ExtQueries.minhashPairsCteOver("bsrc").stripPrefix("WITH ")}
        SELECT id_a, id_b, jaccard FROM verified ORDER BY id_a, id_b
      """.trim)),

    // Training SHARD manifest — the delivery step that closes the data
    // loop plan -> order -> pack: q204 plans the mixture, q508 emits the
    // stride-interleaved global order, and this gate PACKS that order
    // into fixed 2048-token shards (the trainer's unit of work), emitting
    // the per-shard manifest: doc count, token fill, schedule span and
    // the per-domain doc mix inside each shard — the row a data loader
    // reads to plan epoch IO and the audit that the stride interleave
    // actually delivers the mixture INSIDE every shard, not just
    // globally. Scale shape: the schedule is q508's two-phase ranks; the
    // cumulative token position rides the two-phase prefix sum
    // (Keys.globalRunningSum over sched_pos order — no single-task
    // window); shard stats are one hash aggregate, manifest rows =
    // total_tokens / 2048, corpus-dwarfed.
    Q(
      "q513_schedule_shards",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val sched = mixtureSchedule(s, dir)
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long")
              .as("n_tokens"))
          .filter(col("n_tokens") > 0)
        val ordered = sched.join(toks, Seq("doc_id"))
        val packed = graft.engine.Keys.globalRunningSum(
            ordered, "sched_pos", "n_tokens", "cum")
          .withColumn("shard", expr("(cum - n_tokens) div 2048"))
        packed.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("sched_pos")).as("first_pos"),
            max(col("sched_pos")).as("last_pos"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
            sum(when(col("lang") === "zh", 1L).otherwise(0L)).as("n_zh"))
          .orderBy("shard")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang,
                 ${TextHash.duckHash60("'mix1#' || CAST(doc_id AS VARCHAR)")} AS h
          FROM documents
        ), r AS (
          SELECT doc_id, lang,
                 CAST(row_number() OVER (
                   PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS dom_pos
          FROM d
        ), v AS (
          SELECT doc_id, lang, dom_pos,
                 CAST(dom_pos * 1000000 // (CASE lang WHEN 'en' THEN 4
                   WHEN 'zh' THEN 1 ELSE 2 END) AS BIGINT) AS vt
          FROM r
        ), sched AS (
          SELECT doc_id, lang,
                 CAST(row_number() OVER (ORDER BY vt, lang, doc_id) AS BIGINT)
                   AS sched_pos
          FROM v
        ), toks AS (
          SELECT doc_id, CAST(len(${duckTokens("text")}) AS BIGINT) AS n_tokens
          FROM documents
        ), ordered AS (
          SELECT s.doc_id, s.lang, s.sched_pos, t.n_tokens
          FROM sched s JOIN toks t ON t.doc_id = s.doc_id
          WHERE t.n_tokens > 0
        ), packed AS (
          SELECT lang, sched_pos, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY sched_pos
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM ordered
        )
        SELECT CAST((cum - n_tokens) // 2048 AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               MIN(sched_pos) AS first_pos, MAX(sched_pos) AS last_pos,
               CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 END), 0)
                 AS BIGINT) AS n_en,
               CAST(COALESCE(SUM(CASE WHEN lang = 'zh' THEN 1 END), 0)
                 AS BIGINT) AS n_zh
        FROM packed GROUP BY 1 ORDER BY shard
      """.trim))
  )
}
