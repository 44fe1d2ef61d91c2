package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{EvalStats, IvfPq, Similarity, TextHash}
import graft.ext.Similarity.{duckDot, duckD2}

/** Round-9 additions — the ANN index LIFECYCLE (VERDICT_r08 "next round"
  * items 1 and 5): the IVF-PQ index is now a persisted artifact
  * (SharedFrames.ivfPqIndex; centroids + codebooks + codes as parquet,
  * built once per session+corpus), and this module gates the three
  * lifecycle moments a production deployment lives by:
  *   - q498: the artifact ROUND-TRIP — the read-back codes table equals a
  *     from-first-principles rebuild (the oracle re-derives the whole
  *     index; hash equality proves persist/read lost nothing);
  *   - q499: INCREMENTAL MAINTENANCE — a delta batch of new vectors is
  *     assigned to the FROZEN base cells/codebooks (no retrain), and the
  *     gated output measures code agreement against a full refit, for the
  *     delta batch and for the unchanged base portion;
  *   - q500: the graph-walk RECALL AUDIT — q496's acceptance-metric
  *     pattern pointed at the third ANN family (how many true top-3
  *     survive the audited beam walk);
  *   - q501: STREAMING INGEST — arrivals on a file stream are coded
  *     against the frozen index per micro-batch and keyed-upsert into
  *     the code table (EventStreams.startVectorIngest), gated equal to
  *     the batch incremental path;
  *   - q502: INDEX HEALTH — the monitor/decide step: cell-occupancy
  *     balance and incremental-ingest share measured from the persisted
  *     artifact, folded into a pinned rebuild decision.
  * Same determinism discipline as the whole registry: integer-micro
  * residuals, exact integer codebook sums with one final double division,
  * fixed-order distance folds, total-order ties, DuckDB oracle twins from
  * first principles.
  */
object Round9Queries {

  /** DuckDB mirror of the DERIVED coarse quantizer (round 14 — the q524
    * rule across the index lifecycle, mirroring [[IvfPq.derivedPlanes]] +
    * [[IvfPq.withDerivedCells]]): `{p}pl(planes)` = the smallest p with
    * 2^p * 64 >= COUNT({p}src), `{p}dc(vec_id, cell)` = the SRP bucket of
    * each src vector under those planes (hash60-seeded ±1 hyperplanes,
    * identical to Similarity.hyperplaneBucketFast). MATERIALIZED: dc is
    * the chain's most expensive stage and is referenced by cm and rv.
    */
  private[queries] def derivedCellsCte(p: String): String = s"""
        ${p}pl AS (
          SELECT CAST(GREATEST((
            SELECT MIN(q) FROM generate_series(0, 56) t(q)
            WHERE (CAST(1 AS BIGINT) << q) * 64
                    >= (SELECT COUNT(*) FROM ${p}src)), 1) AS INTEGER)
            AS planes
        ), ${cellsOfCte(s"${p}dc", s"${p}src", s"${p}pl")}""".stripMargin.trim

  /** One MATERIALIZED CTE `$rel(vec_id, cell)`: the SRP bucket of every
    * `$src(vec_id, embedding)` row under the FROZEN plane count of
    * `$pl(planes)` — the frozen-index form [[frozenAssignCteOver]] uses
    * to bucket a delta/version-B corpus with the BASE chain's planes.
    */
  private[queries] def cellsOfCte(rel: String, src: String,
      pl: String): String = s"""
        $rel AS MATERIALIZED (
          SELECT vec_id,
                 ${Similarity.duckHyperplaneBucket("embedding", "planes - 1")} AS cell
          FROM $src CROSS JOIN $pl
        )""".stripMargin.trim

  /** Parameterized DuckDB mirror of [[IvfPq.buildIndex]] over
    * `embeddings WHERE pred`: emits the CTE chain `{p}src -> {p}pl/{p}dc
    * (derived cells) -> {p}cm -> {p}cents -> {p}rv -> {p}parts -> {p}octs
    * -> {p}cwd -> {p}cw -> {p}cassign(vec_id, cell, m, g)` — the same
    * stages as the Spark operator, source-parameterized so q499 can build
    * the BASE index (delta held out) and the FULL refit from one
    * generator. Round 14: cells are DERIVED from corpus size (the q524
    * rule), never the fixture's label space.
    */
  private[queries] def pqCte(p: String, pred: String): String = s"""
        ${p}src AS (
          SELECT vec_id, embedding FROM embeddings WHERE $pred
        ), ${derivedCellsCte(p)}, ${Similarity.duckExactCentroids(s"${p}cm", s"${p}cents",
          s"${p}src e JOIN ${p}dc d ON d.vec_id = e.vec_id", "d.cell")}, ${p}rv AS (
          SELECT e.vec_id, d.cell,
                 [CAST(round((CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) * 1000000.0) AS BIGINT)
                  FOR i IN generate_series(1, 64)] AS rmicro
          FROM ${p}src e JOIN ${p}dc d ON d.vec_id = e.vec_id
                         JOIN ${p}cents c ON c.cell = d.cell
        ), ${p}parts AS (
          SELECT vec_id, cell, t.m AS m,
                 rmicro[CAST(t.m*16+1 AS BIGINT):CAST(t.m*16+16 AS BIGINT)] AS r
          FROM ${p}rv CROSS JOIN range(0, 4) t(m)
        ), ${p}octs AS (
          SELECT vec_id, cell, m, r,
                 (CASE WHEN r[1] >= 0 THEN 16 ELSE 0 END
                  + CASE WHEN r[2] >= 0 THEN 8 ELSE 0 END
                  + CASE WHEN r[3] >= 0 THEN 4 ELSE 0 END
                  + CASE WHEN r[4] >= 0 THEN 2 ELSE 0 END
                  + CASE WHEN r[5] >= 0 THEN 1 ELSE 0 END) AS g
          FROM ${p}parts
        ), ${p}cwd AS (
          SELECT m, g, u.i AS dim,
                 CAST(SUM(u.v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cwv
          FROM ${p}octs, LATERAL (SELECT unnest(r) AS v,
                                         generate_subscripts(r, 1) AS i) u
          GROUP BY m, g, u.i
        ), ${p}cw AS (
          SELECT m, g, list(cwv ORDER BY dim) AS cwvec FROM ${p}cwd GROUP BY m, g
        ), ${p}cassign AS (
          SELECT vec_id, cell, m, g FROM (
            SELECT o.vec_id, o.cell, o.m, c.g,
                   row_number() OVER (PARTITION BY o.vec_id, o.m
                     ORDER BY ${duckD2("o.r", "c.cwvec", "16")}, c.g) AS rn
            FROM ${p}octs o JOIN ${p}cw c ON c.m = o.m)
          WHERE rn = 1
        )""".stripMargin.trim

  /** The q499 delta split: a fixed pseudo-random ~1/8 of the corpus by the
    * shared 60-bit hash — a PARTITION of the corpus (every row lands in
    * exactly one side), not a probe sample, so a fraction is the right
    * bound here: the delta batch of a real ingest grows with the corpus.
    */
  private val DeltaPredDuck =
    s"${TextHash.duckHash60("'ixdelta#' || CAST(vec_id AS VARCHAR)")} % 8 = 0"

  private def deltaPredSpark =
    pmod(TextHash.hash60(concat(lit("ixdelta#"), col("vec_id").cast("string"))),
      lit(8L)) === 0L

  /** FROZEN-index assignment over an arbitrary source relation
    * `src(vec_id, embedding)` against index relations
    * `cents(cell, centroid)` / `cw(m, g, cwvec)` with the frozen plane
    * count `pl(planes)`: src vectors get their DERIVED cell under the
    * frozen planes (the cell is part of the frozen index, exactly like
    * the codebooks), then residuals vs the frozen centroids -> nearest
    * frozen codeword, emitting `{p}dc -> {p}rv -> {p}parts ->
    * {p}assign(vec_id, cell, m, g)` (round 13, re-celled round 14 —
    * q525 assigns the staged version-B corpus against the full frozen A
    * index, [[DeltaAssignCte]] the held-out delta against the base
    * index). A vector whose derived cell has no centroid in the frozen
    * quantizer drops out of the inner join — held for the next rebuild,
    * on both engines identically.
    */
  private[queries] def frozenAssignCteOver(src: String, p: String,
      cents: String, cw: String, pl: String): String = s"""
        ${cellsOfCte(s"${p}dc", src, pl)}, ${p}rv AS (
          SELECT e.vec_id, d.cell,
                 [CAST(round((CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) * 1000000.0) AS BIGINT)
                  FOR i IN generate_series(1, 64)] AS rmicro
          FROM $src e JOIN ${p}dc d ON d.vec_id = e.vec_id
                      JOIN $cents c ON c.cell = d.cell
        ), ${p}parts AS (
          SELECT vec_id, cell, t.m AS m,
                 rmicro[CAST(t.m*16+1 AS BIGINT):CAST(t.m*16+16 AS BIGINT)] AS r
          FROM ${p}rv CROSS JOIN range(0, 4) t(m)
        ), ${p}assign AS (
          SELECT vec_id, cell, m, g FROM (
            SELECT p.vec_id, p.cell, p.m, c.g,
                   row_number() OVER (PARTITION BY p.vec_id, p.m
                     ORDER BY ${duckD2("p.r", "c.cwvec", "16")}, c.g) AS rn
            FROM ${p}parts p JOIN $cw c ON c.m = p.m)
          WHERE rn = 1
        )""".stripMargin.trim

  /** DuckDB mirror of the FROZEN-index delta assignment (the incremental
    * path of [[IvfPq.assignCodes]]): delta vectors -> derived cell under
    * the BASE planes -> residuals vs the BASE centroids -> nearest BASE
    * codeword. Emits `dsrc -> ddc -> drv -> dparts ->
    * dassign(vec_id, cell, m, g)`; requires `bcents`/`bcw`/`bpl`
    * (the `pqCte("b", ...)` chain) in scope. Shared by q499 (refit
    * agreement audit) and q501 (streaming ingest gate); delegates to
    * [[frozenAssignCteOver]] at (dsrc, "d", bcents, bcw, bpl).
    */
  private[queries] val DeltaAssignCte: String = s"""
        dsrc AS (
          SELECT vec_id, embedding FROM embeddings WHERE $DeltaPredDuck
        ), ${frozenAssignCteOver("dsrc", "d", "bcents", "bcw", "bpl")}""".stripMargin.trim

  val qs: Seq[Q] = Seq(

    // IVF-PQ index artifact round-trip — the persistence half of
    // VERDICT_r08 #1. Spark side: read the codes table BACK from the
    // parquet artifact (SharedFrames.ivfPqIndex builds it once per
    // session+corpus) and pivot to one row per vector (cell + the four
    // subspace codes — the 16-byte RAM layout, human-readable). Oracle:
    // re-derive the ENTIRE index from first principles. Hash equality =
    // the persisted artifact is bit-identical to a rebuild, so every
    // artifact consumer (q495/q496/q499) searches exactly what a fresh
    // build would produce.
    Q(
      "q498_ivfpq_index_roundtrip",
      (s, dir) => {
        val codes = SharedFrames.ivfPqIndex(s, dir).codes
        codes.groupBy(col("id"), col("cell"))
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
        WITH ${pqCte("f", "TRUE")}
        SELECT vec_id, CAST(cell AS BIGINT) AS cell,
               CAST(MAX(CASE WHEN m = 0 THEN g END) AS BIGINT) AS c0,
               CAST(MAX(CASE WHEN m = 1 THEN g END) AS BIGINT) AS c1,
               CAST(MAX(CASE WHEN m = 2 THEN g END) AS BIGINT) AS c2,
               CAST(MAX(CASE WHEN m = 3 THEN g END) AS BIGINT) AS c3
        FROM fcassign
        GROUP BY vec_id, cell
        ORDER BY vec_id
      """.trim)),

    // IVF-PQ incremental maintenance — VERDICT_r08 #1's delta-upsert gate.
    // A fixed hash-partitioned ~1/8 of the corpus plays the DELTA batch;
    // the rest is the BASE snapshot the index was trained on. The
    // incremental path assigns delta vectors to the FROZEN base
    // centroids/codebooks (IvfPq.assignCodes — residual vs the base cell
    // centroid, nearest base codeword; no retrain, the production ingest
    // move). The audit compares codes against the FULL REFIT (the
    // persisted artifact, built over base+delta): per subspace,
    //   n_delta / delta_same — how many delta vectors get the refit's code
    //     from the frozen index (assignment transfer quality), and
    //   n_base / base_same — how many BASE codes the refit would change
    //     (the drift a rebuild-free deployment accumulates; refit moves
    //     centroids and codebook means, so this prices the staleness).
    // Both measured and hash-gated, not assumed. Scale shape: the frozen
    // index frames are cell-/codebook-bounded broadcasts; delta and base
    // code frames are corpus-linear and only ever shuffle on (id, m).
    Q(
      "q499_ivfpq_delta_upsert",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        // derived cells (round 14): planes frozen from the TRAINING corpus
        // — the base snapshot — and the delta batch bucketed under the
        // same frozen planes, exactly as the codebooks are frozen. Round
        // 15: the base-trained codes and the frozen-index delta codes are
        // the shared per-session staging (SharedFrames.staleIvf) — the
        // identical values this gate used to re-derive in place.
        val bCodes = SharedFrames.staleIvf(s, dir).codes
        val dCodes = SharedFrames.staleDeltaCodes(s, dir)
        val refit = SharedFrames.ivfPqIndex(s, dir).codes
          .select(col("id"), col("m"), col("g").as("__fg"))
        // both sides are corpus-linear code frames -> pinned shuffle join
        def agree(codes: DataFrame, nCol: String, sameCol: String): DataFrame =
          codes.join(refit.hint("shuffle_hash"), Seq("id", "m"))
            .groupBy("m")
            .agg(count(lit(1)).as(nCol),
              sum(when(col("g") === col("__fg"), 1L).otherwise(0L)).as(sameCol))
        agree(dCodes, "n_delta", "delta_same")
          .join(agree(bCodes, "n_base", "base_same"), Seq("m"))
          .select(col("m").cast("long").as("m"), col("n_delta"), col("delta_same"),
            col("n_base"), col("base_same"))
          .orderBy("m")
      },
      Some(s"""
        WITH ${pqCte("f", "TRUE")}, ${pqCte("b", s"NOT ($DeltaPredDuck)")},
        $DeltaAssignCte, dcmp AS (
          SELECT d.m, COUNT(*) AS n_delta,
                 SUM(CASE WHEN d.g = f.g THEN 1 ELSE 0 END) AS delta_same
          FROM dassign d JOIN fcassign f ON f.vec_id = d.vec_id AND f.m = d.m
          GROUP BY d.m
        ), bcmp AS (
          SELECT b.m, COUNT(*) AS n_base,
                 SUM(CASE WHEN b.g = f.g THEN 1 ELSE 0 END) AS base_same
          FROM bcassign b JOIN fcassign f ON f.vec_id = b.vec_id AND f.m = b.m
          GROUP BY b.m
        )
        SELECT CAST(d.m AS BIGINT) AS m,
               CAST(d.n_delta AS BIGINT) AS n_delta,
               CAST(d.delta_same AS BIGINT) AS delta_same,
               CAST(b.n_base AS BIGINT) AS n_base,
               CAST(b.base_same AS BIGINT) AS base_same
        FROM dcmp d JOIN bcmp b ON b.m = d.m
        ORDER BY m
      """.trim)),

    // Graph-walk beam-search recall audit — VERDICT_r08 #5: q496's
    // acceptance-metric pattern pointed at the THIRD ANN family. Per
    // probe (the same 20 hash-ordered probes as q497), how many of the
    // true top-3 cosine neighbors (brute force over the full corpus,
    // self excluded) survive the beam walk's final top-3 — the
    // entry/hops/beam operating point is accepted or rejected on THIS
    // number, measured and hash-gated. The audited point is
    // entries=32/hops=4/beam=8, NOT q497's minimal convergence-pinning
    // point (2/3/4): the mutual-kNN substrate here fragments into 46
    // components over 500 vectors, so recall is ENTRY-COVERAGE-bound —
    // the audit measured 0% at 2 entries, 8% at 8, 20% at 32, 42% at 64
    // (sweep in SURVEY §2.19); 32 fixed entries keeps the HNSW lesson
    // (entry/connectivity dominates) while staying a bounded count at
    // any corpus size. Truth rides topKCosine's bounded-probe broadcast
    // baseline; the survivor join is a semi join on the (query, neighbor)
    // pair key.
    Q(
      "q500_beam_search_recall",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val probes = Similarity.hashOrderedProbes(e, "vec_id", "beam", 20)
        val walk = Similarity.graphBeamSearch(
            corpus = e,
            edges = SharedFrames.mutualKnnEdges(s, dir),
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
        ${Round8Queries.beamWalkCte(20, 32, 4, 8)}, walk AS (
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

    // Streaming ANN ingest THROUGH the gate — VERDICT_r08 #7, the index
    // lifecycle end to end: the BASE snapshot's codes seed the parquet
    // code table; the held-out delta vectors are staged as arrival files
    // and consumed by a file-stream (3 files, maxFilesPerTrigger=1 ->
    // three micro-batches, so the upsert's idempotent-by-key contract is
    // actually exercised across batches); each micro-batch is
    // residual-encoded against the FROZEN broadcast centroids/codebooks
    // (EventStreams.startVectorIngest) and keyed-upsert into the table.
    // The gate reads the final table back and pivots per vector; the
    // oracle derives base-build ∪ frozen-delta-assignment from first
    // principles — hash equality proves the streamed ingest lands
    // EXACTLY the codes the batch incremental path (q499) computes.
    Q(
      "q501_stream_ann_ingest_gate",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val base = graft.engine.Scratch.dir(s, dir, "stream_ann_ingest")
        val src = base + "_src"
        Seq(base, base + "_ckpt", src).foreach(graft.engine.Scratch.rm)
        val e = Tables.embeddings(s, dir)
        // derived cells (round 14): planes frozen from the base snapshot;
        // streamed arrivals below get their cell from the SAME frozen
        // expression (stateless — the SRP bucket needs no centroid probe).
        // Round 15: the frozen artifacts (centroids, codebooks, base
        // codes, plane count) come from the shared per-session staging
        // (SharedFrames.staleIvf) instead of a per-gate retrain; every
        // arrival is still coded LIVE through residualParts + assignCodes
        // inside the micro-batch, and the oracle derives the same state
        // from first principles.
        val ix = SharedFrames.staleIvf(s, dir)
        val planes = SharedFrames.staleIvfPlanes(s, dir)
        val delta = e.filter(deltaPredSpark)
        // seed the code table with the base snapshot's codes as a CELL-
        // PARTITIONED commit-log table: the streaming upsert is the log's
        // partition-scoped merge (TxLog.upsert by "cell"), so each
        // micro-batch rewrites only the cells it touches — never the whole
        // table per trigger. The pivot below groups and orders by key, so
        // the hash does not depend on the file layout.
        graft.engine.TxLog.append(
          ix.codes.select("id", "cell", "m", "g"), base, Some("cell"))
        // stage arrivals as three files -> three rate-limited micro-batches
        delta.repartition(3).write.parquet(src)
        val arrivals = IvfPq.withDerivedCells(
          s.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
          "embedding", planes)
        graft.streaming.EventStreams.runDrained(s)(
          graft.streaming.EventStreams.startVectorIngest(
            arrivals, ix.cents, ix.cw, "vec_id", "embedding", "cell",
            base, base + "_ckpt"))
        graft.engine.TxLog.read(s, base)
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
        WITH ${pqCte("b", s"NOT ($DeltaPredDuck)")}, $DeltaAssignCte, u AS (
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

    // Index HEALTH monitor — the decide step that closes the lifecycle
    // loop (build -> persist -> search -> delta -> ingest -> MONITOR).
    // Production IVF deployments watch two dials and trigger a retrain
    // when either crosses its threshold:
    //   - ingest share: how much of the index arrived through the
    //     incremental path (q499/q501's delta) since the last full train —
    //     codebooks were never trained on those vectors, so staleness
    //     (priced by q499) accrues with this share;
    //   - cell balance: the largest inverted list vs the fair share — a
    //     hot cell degrades every search that probes it (the FAISS
    //     imbalance_factor dial) and signals the coarse quantizer no
    //     longer fits the data.
    // Measured FROM the persisted artifact (one codes scan, m=0 rows are
    // one-per-vector and the filter pushes to the scan), per-cell rows +
    // 1-row global aggregates broadcast back — no window, no corpus-side
    // join. The rebuild decision: delta share >= 10% OR max cell >= 2x
    // fair share; thresholds mirrored in both engines (the q169/q499
    // envelope pattern — the measured VALUES are the deliverable, the
    // flag is a pinned function of them). At sf0.01 the ~1/8 delta split
    // fires the ingest-share trigger (delta_share 10.8% >= 10%), so the
    // gate exercises the rebuild=1 branch.
    Q(
      "q502_ivfpq_index_health",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val codes = SharedFrames.ivfPqIndex(s, dir).codes
          .filter(col("m") === 0).select(col("id"), col("cell"))
        val occ = codes.groupBy(col("cell").cast("long").as("cell"))
          .agg(count(lit(1)).as("n_vecs"))
        val tot = occ.agg(sum(col("n_vecs")).as("n_total"),
          max(col("n_vecs")).as("max_vecs"), count(lit(1)).as("n_cells"))
        val del = codes.filter(
            pmod(TextHash.hash60(concat(lit("ixdelta#"), col("id").cast("string"))),
              lit(8L)) === 0L)
          .agg(count(lit(1)).as("n_delta"))
        occ.crossJoin(broadcast(tot)).crossJoin(broadcast(del))
          .select(col("cell"), col("n_vecs"),
            expr("n_vecs * 1000000 DIV n_total").as("share_micro"),
            expr("max_vecs * 1000000 DIV n_total").as("max_share_micro"),
            expr("n_delta * 1000000 DIV n_total").as("delta_share_micro"),
            when(col("n_delta") * 10 >= col("n_total")
                || col("max_vecs") * col("n_cells") >= col("n_total") * 2,
              lit(1L)).otherwise(lit(0L)).as("rebuild"))
          .orderBy("cell")
      },
      Some(s"""
        WITH fsrc AS (SELECT vec_id, embedding FROM embeddings),
        ${derivedCellsCte("f")},
        occ AS (
          SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_vecs
          FROM fdc GROUP BY cell
        ), tot AS (
          SELECT SUM(n_vecs) AS n_total, MAX(n_vecs) AS max_vecs,
                 COUNT(*) AS n_cells
          FROM occ
        ), del AS (
          SELECT COUNT(*) AS n_delta FROM fsrc WHERE $DeltaPredDuck
        )
        SELECT o.cell, CAST(o.n_vecs AS BIGINT) AS n_vecs,
               CAST(o.n_vecs * 1000000 // t.n_total AS BIGINT) AS share_micro,
               CAST(t.max_vecs * 1000000 // t.n_total AS BIGINT) AS max_share_micro,
               CAST(d.n_delta * 1000000 // t.n_total AS BIGINT) AS delta_share_micro,
               CAST(CASE WHEN d.n_delta * 10 >= t.n_total
                           OR t.max_vecs * t.n_cells >= 2 * t.n_total
                         THEN 1 ELSE 0 END AS BIGINT) AS rebuild
        FROM occ o CROSS JOIN tot t CROSS JOIN del d ORDER BY cell
      """.trim))
  )
}
