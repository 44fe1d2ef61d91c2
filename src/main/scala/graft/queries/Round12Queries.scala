package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.Sources
import graft.ext.{NearDup, Similarity, Splits, TextAnalysis, TextHash}

/** Round-12 additions — extending the round-11 incremental-maintenance
  * trilogy (q510 diff / q511 dedup / q512 LSH) to the LAST full-rebuild
  * surfaces the r11 verdict named, and closing the loops it opened:
  *   - q514: INCREMENTAL maintenance of the navigable-graph edge artifact
  *     (mutual-kNN + cross-cell long-range edges) — the one maintenance
  *     surface the trilogy didn't reach: after an ingest batch the serving
  *     graph was stale until a full q504-style refit.
  *   - q515: SPLIT STABILITY across snapshot versions — pinned assignments
  *     (a surviving doc never flips train -> test) with the merge-conflict
  *     case quarantined, both invariants measured in the gate.
  *   - q516: the COMPACTION decide -> act loop — q506 heals, q502/q504
  *     decide-and-act; this gate closes layout health the same way.
  *   - q517: the incremental pipeline END TO END — one version-B snapshot
  *     driven through diff -> incremental dedup -> incremental LSH ->
  *     pinned splits -> mixture schedule -> shard manifest, hash-compared
  *     against the from-scratch computation of the same policy.
  *   - q518: the recall frontier pushed past beam-16 with a NON-beam knob:
  *     per-cell medoid entry seeding at the q503 walk budget.
  * Same determinism discipline as the whole registry: exact-decimal
  * centroids, sequential-fold distances, total-order ties, integer-micro
  * ratios, DuckDB oracle twins from first principles.
  */
object Round12Queries {

  /** DuckDB fragment: sequential double dot product of float lists a,b. */
  private def duckDot(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN generate_series(1, len($a))])"

  // ---------------------------------------------------------------------
  // Version-B EMBEDDINGS staging (q514): the vector-corpus twin of the
  // round-11 document staging (Round11Queries.stagedB), with the changes
  // CONFINED TO CELLS label % 3 == 0 — so a deterministic subset of cells
  // is provably untouched at ANY corpus size, and the incremental path's
  // keep-vs-redo split is exercised on both sides (a change set spread
  // over every cell would degenerate the gate into a full recompute).
  // Within scope, hash bucket 0 of 8 is removed, bucket 1 revised (dim 0
  // negated — exact in float, so both engines stage bit-identical
  // vectors), bucket 2 cloned to a NEGATIVE id (-vec_id - 1, disjoint
  // from any non-negative id space — the q506 fixture-stability lesson)
  // with dim 1 negated, same cell.
  // ---------------------------------------------------------------------

  private[queries] def vsnapBucket = pmod(TextHash.hash60(
    concat(lit("vsnap#"), col("vec_id").cast("string"))), lit(8L))

  private[queries] def vInScope = pmod(col("label").cast("long"), lit(3L)) === 0L

  private def negDim(vec: org.apache.spark.sql.Column, dim: Int) =
    transform(vec, (v, i) => when(i === dim, -v).otherwise(v)).cast("array<float>")

  /** Version B of the embeddings corpus: (vec_id, embedding, label). */
  private[queries] def stagedBEmb(e: DataFrame): DataFrame =
    e.filter(!(vInScope && vsnapBucket === 0L))
      .select(col("vec_id"),
        when(vInScope && vsnapBucket === 1L, negDim(col("embedding"), 0))
          .otherwise(col("embedding")).as("embedding"),
        col("label"))
      .unionByName(e.filter(vInScope && vsnapBucket === 2L)
        .select((-col("vec_id") - lit(1L)).as("vec_id"),
          negDim(col("embedding"), 1).as("embedding"), col("label")))

  /** The FRESH slice of the version-B vector corpus (round 13 — q525
    * re-encodes exactly these rows against the frozen index): revised
    * originals (dim 0 negated, same id and cell) plus clones (negative
    * ids, dim 1 negated, same cell). Built from the staging's own
    * construction, the q510-and-friends discipline.
    */
  private[queries] def freshBEmb(e: DataFrame): DataFrame =
    e.filter(vInScope && vsnapBucket === 1L)
      .select(col("vec_id"), negDim(col("embedding"), 0).as("embedding"),
        col("label"))
      .unionByName(e.filter(vInScope && vsnapBucket === 2L)
        .select((-col("vec_id") - lit(1L)).as("vec_id"),
          negDim(col("embedding"), 1).as("embedding"), col("label")))

  private val VsnapDuck: String =
    s"${TextHash.duckHash60("'vsnap#' || CAST(vec_id AS VARCHAR)")} % 8"

  /** The q514 maintenance path, factored for reuse (round 13 — q522 audits
    * recall on the MAINTAINED graph, so it consumes the same machinery
    * through the SharedFrames.navEdgesB artifact): version B's navigable
    * edge set produced by keep/redo over the A-state artifacts — never a
    * from-scratch rebuild. Unordered; q514 orders and hash-gates it
    * against the from-scratch DuckDB graph of version B.
    */
  private[queries] def maintainedNavEdgesB(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, dir)
    val b = stagedBEmb(e)
    // the change slice and its bounded affected-cell list
    val affected = e.filter(vInScope && vsnapBucket < 3L)
      .select(col("label")).distinct().collect().map(_.getInt(0)).toSeq
    // mutual-kNN maintenance over the A-state ARTIFACT (built once per
    // session+corpus, never inline). Cell predicates take isInCollection
    // (one set-membership node — the Sinks touched-partition convention):
    // a production index has thousands of affected cells per day, and an
    // OR-of-equalities tree that size bloats planning
    val keptMu = SharedFrames.cellTaggedMutualKnn(s, dir)
      .filter(!col("cell").isInCollection(affected)).select("id_a", "id_b")
    val redoMu = Similarity.mutualKnnGraph(
      b.filter(col("label").isInCollection(affected)),
      "vec_id", "embedding", "label", k = 3)
    // long-range maintenance: keep where (vector, pick, cell contents)
    // all unchanged; redo the rest against only the redo cells
    val picksB = Similarity.foreignCellPicks(b, "vec_id", "embedding", "label", 2)
    val revised = e.filter(vInScope && vsnapBucket === 1L)
      .select(col("vec_id").as("query_id"))
    val keep = SharedFrames.longRangePickBest(s, dir)
      .filter(!col("cell").isInCollection(affected))
      .join(picksB.select(col("query_id"), col("__cell").as("cell")),
        Seq("query_id", "cell"), "left_semi")
      .join(revised, Seq("query_id"), "left_anti")
    val redo = picksB.join(
      keep.select(col("query_id"), col("cell").as("__cell")),
      Seq("query_id", "__cell"), "left_anti")
    val redoCells = redo.select(col("__cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val redone = Similarity.bestInPickedCells(
      redo, b.filter(col("label").isInCollection(redoCells)),
      "vec_id", "embedding", "label")
    val lre = keep.select("query_id", "neighbor_id")
      .unionByName(redone.select("query_id", "neighbor_id"))
      .select(least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"))
    keptMu.unionByName(redoMu).unionByName(lre).distinct()
  }

  /** DuckDB twin of [[stagedBEmb]]: CTE `bemb(vec_id, embedding, label)`. */
  private[queries] val BembCte: String = s"""
        bemb AS (
          SELECT vec_id,
                 CASE WHEN label % 3 = 0 AND $VsnapDuck = 1
                      THEN [CASE WHEN i = 1 THEN -embedding[i] ELSE embedding[i] END
                            FOR i IN generate_series(1, len(embedding))]
                      ELSE embedding END AS embedding,
                 label
          FROM embeddings
          WHERE NOT (label % 3 = 0 AND $VsnapDuck = 0)
          UNION ALL
          SELECT -vec_id - 1 AS vec_id,
                 [CASE WHEN i = 2 THEN -embedding[i] ELSE embedding[i] END
                  FOR i IN generate_series(1, len(embedding))] AS embedding,
                 label
          FROM embeddings
          WHERE label % 3 = 0 AND $VsnapDuck = 2
        )""".stripMargin.trim

  /** The navigable proximity graph (mutual top-k cosine within cells UNION
    * nForeign cross-cell long-range edges) as a CTE chain over an
    * arbitrary source relation `src(vec_id, embedding, label)` — the
    * source-parameterized form of Round11Queries.NavGraphCte, needed so
    * q514 can derive the from-scratch graph of the STAGED version-B corpus.
    * Ends with relation `nav(id_a, id_b)`. No WITH prefix: compose after
    * the staging CTEs. The density knobs (k, nForeign) default to the
    * registry's standard (3, 2) operating point — byte-identical text for
    * every existing caller; round 13's density sweep (q527) instantiates
    * denser points.
    */
  private[queries] def navGraphCteOver(src: String, k: Int = 3,
      nForeign: Int = 2): String = s"""
        e AS (
          SELECT vec_id, label, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM $src
        ), knn AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                     DESC, c.vec_id) AS rank
          FROM e q JOIN e c ON q.label = c.label AND c.vec_id <> q.vec_id
          QUALIFY rank <= $k
        ), mu AS (
          SELECT a.qid AS id_a, a.nid AS id_b
          FROM knn a JOIN knn b ON b.qid = a.nid AND b.nid = a.qid
          WHERE a.qid < a.nid
        ), ccm AS (
          SELECT label AS cell, CAST(u.i - 1 AS INTEGER) AS dim,
                 CAST(SUM(CAST(CAST(u.v AS DOUBLE) * 281474976710656 AS DECIMAL(38,0))) AS DOUBLE)
                   / 281474976710656 / COUNT(*) AS mean
          FROM $src,
               LATERAL (SELECT unnest(embedding) AS v,
                               generate_subscripts(embedding, 1) AS i) u
          GROUP BY label, dim
        ), ccents AS (
          SELECT cell, list(mean ORDER BY dim) AS centroid FROM ccm GROUP BY cell
        ), fcell AS (
          SELECT vec_id, qv, qn, cell FROM (
            SELECT q.vec_id, q.embedding AS qv, q.nrm AS qn, c.cell,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     list_sum([(CAST(q.embedding[i] AS DOUBLE) - c.centroid[i])
                               * (CAST(q.embedding[i] AS DOUBLE) - c.centroid[i])
                               FOR i IN generate_series(1, len(q.embedding))]),
                     c.cell) AS rn
            FROM e q JOIN ccents c ON c.cell <> q.label)
          WHERE rn <= $nForeign
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

  /** Train/val/test weights — the registry's standard 80/10/10. */
  private[queries] val SplitWeights = Seq("train" -> 80, "val" -> 10, "test" -> 10)

  /** Shared recall-audit scaffold for the round's walk gates (the R12
    * factoring convention — one copy of the recall arithmetic, not one per
    * gate): beam walk over the materialized navigable graph with the given
    * entry set and beam, scored against the brute-force top-3 truth on the
    * standard 20 hash probes; per-query (n_true, n_hits, recall_micro).
    */
  private def recallAudit(s: SparkSession, dir: String, beam: Int,
      entriesOf: (DataFrame, DataFrame) => DataFrame): DataFrame =
    recallAuditOver(Tables.embeddings(s, dir), SharedFrames.navEdges(s, dir),
      beam, entriesOf)

  /** [[recallAudit]] generalized over (corpus, edge set) — round 13: q522
    * audits the q518 operating point on the MAINTAINED version-B graph
    * (SharedFrames.navEdgesB) against version B's brute-force truth.
    */
  private[queries] def recallAuditOver(e: DataFrame, edges: DataFrame,
      beam: Int, entriesOf: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val probes = Similarity.hashOrderedProbes(e, "vec_id", "beam", 20)
    val walk = Similarity.graphBeamSearch(
        corpus = e, edges = edges, queries = probes,
        idCol = "vec_id", vecCol = "embedding",
        entries = entriesOf(e, edges), hops = 4, beam = beam, k = 3)
      .select("query_id", "neighbor_id")
    val brute = Similarity.topKCosine(probes, e, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id")
    val hits = brute
      .join(walk, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    brute.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_micro",
        expr("n_hits * 1000000 DIV n_true"))
      .orderBy("query_id")
  }

  /** DuckDB twin of [[recallAudit]] over the entry-parameterized walk. */
  private def recallOracle(beam: Int, entriesBody: String): String =
    recallOracleOver(beam, entriesBody,
      "WITH " + navGraphCteOver("embeddings"), "embeddings")

  /** [[recallOracle]] generalized over (staging CTEs, corpus relation). */
  private[queries] def recallOracleOver(beam: Int, entriesBody: String,
      pairCtes: String, src: String): String = s"""
        ${Round8Queries.beamWalkCteOverEntries(20, 4, beam,
          pairCtes, "nav", entriesBody, src)}, walk AS (
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
        ), hits AS (
          SELECT b.query_id, COUNT(*) AS n_hits
          FROM brute b
          JOIN walk w ON w.query_id = b.query_id
                     AND w.neighbor_id = b.neighbor_id
          GROUP BY b.query_id
        )
        SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits,
               CAST(COALESCE(MAX(h.n_hits), 0) * 1000000 // COUNT(*) AS BIGINT)
                 AS recall_micro
        FROM brute b LEFT JOIN hits h ON h.query_id = b.query_id
        GROUP BY b.query_id ORDER BY b.query_id
      """.trim

  /** Version-B staged documents WITH the lang column (q517 needs the
    * mixture schedule over version B): same change classes as
    * Round11Queries.stagedB — bucket 0 removed, 1 revised, 2 cloned to a
    * negative id — with revised docs and clones keeping their lang.
    */
  private def stagedBFull(docs: DataFrame): DataFrame = {
    def b = Round11Queries.snapBucket
    docs.withColumn("__b", b).filter(col("__b") =!= 0)
      .select(col("doc_id"),
        when(col("__b") === 1, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"),
        col("lang"))
      .unionByName(docs.withColumn("__b", b).filter(col("__b") === 2)
        .select((-col("doc_id") - lit(1L)).as("doc_id"),
          concat(col("text"), lit(" new")).as("text"), col("lang")))
  }

  /** DuckDB twin of [[stagedBFull]]: CTE `bsrcf(doc_id, text, lang)`. */
  private val SnapshotBFullCte: String = s"""
        hbf AS (
          SELECT doc_id, text, lang,
                 ${TextHash.duckHash60("'snap#' || CAST(doc_id AS VARCHAR)")}
                   % 10 AS b
          FROM documents
        ), bsrcf AS (
          SELECT doc_id,
                 CASE WHEN b = 1 THEN text || ' rev2' ELSE text END AS text,
                 lang
          FROM hbf WHERE b <> 0
          UNION ALL
          SELECT -doc_id - 1 AS doc_id, text || ' new' AS text, lang
          FROM hbf WHERE b = 2
        )""".stripMargin.trim

  /** The version-B split state shared by q515/q517: version-A components +
    * splits (the q509 assignment — in production, the persisted split
    * table), version-B components over the INCREMENTALLY maintained pair
    * set (q512's path), and the pinned assignment with quarantine
    * ([[graft.ext.Splits.pinnedComponentSplits]]).
    */
  private[queries] final case class SplitState(
      aSplit: DataFrame, bPairs: DataFrame, assigned: DataFrame)

  private[queries] def splitStateB(s: SparkSession, dir: String): SplitState = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = Tables.documents(s, dir).select("doc_id")
    val aPairs = SharedFrames.verifiedDocPairs(s, dir).select("id_a", "id_b")
    val aCc = NearDup.connectedComponents(aPairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    val aSplit = docs.join(aCc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextAnalysis.splitAssign(
          coalesce(col("cluster_id"), col("doc_id")), SplitWeights)
          .as("prior_split"))
    // materialize: cross-action — connectedComponents' actions, then q515's leak audit
    val bPairs = Round11Queries.incrementalBPairs(s, dir).select("id_a", "id_b").localCheckpoint()
    val bDocs = Round11Queries.stagedB(Tables.documents(s, dir)).select("doc_id")
    val bCc = NearDup.connectedComponents(bPairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"))
    val members = bDocs.join(bCc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("component"))
    SplitState(aSplit, bPairs,
      Splits.pinnedComponentSplits(members, "doc_id", "component",
        aSplit, "prior_split", SplitWeights))
  }

  /** DuckDB CTE chain for the pinned split policy over version B — ends in
    * `assigned(doc_id, component, split, quarantined)` plus `asplit` and
    * the B `verified` pair set for the invariant counters. Composes: the
    * PREFIXED A-side minhash chain (a_verified), recursive CC over both
    * pair sets, and the pin resolution (arg_min by doc_id of the surviving
    * members' prior splits).
    */
  private def pinnedSplitCtes: String = {
    val aChain = ExtQueries.minhashPairsCteOver("documents", prefix = "a_")
      .stripPrefix("WITH ").trim
    val bChain = ExtQueries.minhashPairsCteOver("bsrc").stripPrefix("WITH ").trim
    s"""
        ${Round11Queries.SnapshotBCte}, $aChain, $bChain, a_e2 AS (
          SELECT id_a AS src, id_b AS dst FROM a_verified
          UNION
          SELECT id_b AS src, id_a AS dst FROM a_verified
        ), a_reach(v, label) AS (
          SELECT src, src FROM a_e2
          UNION
          SELECT e.dst, r.label FROM a_reach r JOIN a_e2 e ON e.src = r.v
        ), a_cc AS (
          SELECT v AS doc_id, CAST(MIN(label) AS BIGINT) AS component
          FROM a_reach GROUP BY v
        ), asplit AS (
          SELECT d.doc_id,
                 CASE WHEN ${TextHash.duckHash60(
                     "CAST(COALESCE(a_cc.component, d.doc_id) AS VARCHAR)")}
                        % 100 < 80 THEN 'train'
                      WHEN ${TextHash.duckHash60(
                     "CAST(COALESCE(a_cc.component, d.doc_id) AS VARCHAR)")}
                        % 100 < 90 THEN 'val'
                      ELSE 'test' END AS prior_split
          FROM documents d LEFT JOIN a_cc ON a_cc.doc_id = d.doc_id
        ), b_e2 AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b AS src, id_a AS dst FROM verified
        ), b_reach(v, label) AS (
          SELECT src, src FROM b_e2
          UNION
          SELECT e.dst, r.label FROM b_reach r JOIN b_e2 e ON e.src = r.v
        ), b_cc AS (
          SELECT v AS doc_id, CAST(MIN(label) AS BIGINT) AS component
          FROM b_reach GROUP BY v
        ), members AS (
          SELECT b.doc_id, COALESCE(b_cc.component, b.doc_id) AS component
          FROM bsrc b LEFT JOIN b_cc ON b_cc.doc_id = b.doc_id
        ), surv AS (
          SELECT m.doc_id, m.component, a.prior_split
          FROM members m LEFT JOIN asplit a ON a.doc_id = m.doc_id
        ), pins AS (
          SELECT component,
                 COUNT(DISTINCT prior_split) AS n_pins,
                 arg_min(prior_split, doc_id)
                   FILTER (WHERE prior_split IS NOT NULL) AS pin_split
          FROM surv GROUP BY component
        ), assigned AS (
          SELECT s.doc_id, s.component,
                 CASE WHEN s.prior_split IS NOT NULL THEN s.prior_split
                      WHEN p.n_pins = 0 THEN
                        CASE WHEN ${TextHash.duckHash60(
                            "CAST(s.component AS VARCHAR)")} % 100 < 80
                               THEN 'train'
                             WHEN ${TextHash.duckHash60(
                            "CAST(s.component AS VARCHAR)")} % 100 < 90
                               THEN 'val'
                             ELSE 'test' END
                      ELSE p.pin_split END AS split,
                 CAST(CASE WHEN p.n_pins > 1 THEN 1 ELSE 0 END AS INTEGER)
                   AS quarantined
          FROM surv s JOIN pins p ON p.component = s.component
        )""".stripMargin.trim
  }

  /** snap2 bucket over version-B doc ids — the B -> C change classes
    * (round 13, factored from q520's closure so q521's incremental step
    * stages the identical version C).
    */
  private[queries] def snap2Bucket = pmod(TextHash.hash60(
    concat(lit("snap2#"), col("doc_id").cast("string"))), lit(10L))

  /** Version C of the corpus over version B: bucket 0 removed, bucket 1
    * revised (C adds no clones — additions were q515's arm; removals and
    * revisions are what move components between established versions).
    */
  private[queries] def stagedC(bDocs: DataFrame): DataFrame =
    bDocs.withColumn("__b", snap2Bucket).filter(col("__b") =!= 0)
      .select(col("doc_id"),
        when(col("__b") === 1, concat(col("text"), lit(" rev3")))
          .otherwise(col("text")).as("text"))

  /** B ids leaving the state at C (removed + revised originals). */
  private[queries] def goneAtC(bDocs: DataFrame): DataFrame =
    bDocs.withColumn("__b", snap2Bucket).filter(col("__b").isin(0L, 1L))
      .select("doc_id")

  /** C's fresh slice (the revised docs — the only text re-processed). */
  private[queries] def freshAtC(bDocs: DataFrame): DataFrame =
    bDocs.withColumn("__b", snap2Bucket).filter(col("__b") === 1L)
      .select(col("doc_id"), concat(col("text"), lit(" rev3")).as("text"))

  /** Version C's near-dup pairs via the INCREMENTAL maintenance step over
    * the PERSISTED B-state artifacts (round 13 — VERDICT_r12 next #3: the
    * steady-state split update must never re-shingle the corpus): kept
    * B pairs whose endpoints survive, plus the revised slice's
    * regenerated pairs. q521 hash-proves this equals from-scratch LSH
    * over version C; q520 consumes it for the transitivity invariants.
    */
  private[queries] def incrementalCPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val b = Round11Queries.stagedB(Tables.documents(s, dir))
    NearDup.incrementalPairs(
      SharedFrames.bPairs(s, dir), SharedFrames.bSigs(s, dir),
      SharedFrames.bShingles(s, dir), goneAtC(b), freshAtC(b),
      "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.8)
  }

  val qs: Seq[Q] = Seq(

    // INCREMENTAL navigable-graph maintenance — VERDICT_r11 next #1, the
    // q512 equivalence argument lifted from LSH state to the serving
    // graph: after an ingest batch, q501's index is current but the
    // navEdges artifact (mutual-kNN ∪ long-range edges) was a FULL
    // REBUILD away. The A-state graph artifacts live at maintenance
    // granularity as SharedFrames reads (round 13, clearing the r12
    // `weak`: the gate used to rebuild both INLINE per run — the full
    // O(n²/ncells) in-cell join it exists to avoid, an 11.5x x10 ratio;
    // they are now built once per (session, corpus) and shared with
    // navEdges' own construction): mutual edges CELL-TAGGED
    // (SharedFrames.cellTaggedMutualKnn — within-cell by construction, so
    // the cell is the partition), long-range edges at PICK granularity
    // (SharedFrames.longRangePickBest — (query, foreign cell, neighbor),
    // the level where keep/redo is provable). Version B arrives with
    // changes confined to cells label%3==0, and the maintained graph is
    //   - mutual-kNN: unaffected cells' edges are a pure partition-pruned
    //     artifact read (membership unchanged -> the cell-restricted kNN
    //     is a function of cell contents alone); affected cells recompute
    //     CELL-LOCALLY over B;
    //   - long-range: the foreign-cell pick stage recomputes corpus-wide
    //     (a narrow scan against bounded centroid metadata — the same
    //     unavoidable floor as q510's fingerprint scan; it is the in-cell
    //     cosine JOIN that is the expensive stage), and that join runs
    //     ONLY for picks that are new/changed, belong to revised vectors,
    //     or land in affected cells; every other (vector, cell) pick keeps
    //     its artifact neighbor — provably unchanged, since both the
    //     vector and the picked cell's membership are unchanged.
    // The gate hash-compares the maintained edge set against the DuckDB
    // from-scratch navigable graph of version B — incremental == full,
    // so q503/q505 recall on the maintained graph is THE from-scratch
    // recall. 100 TB: the daily edge-maintenance job is delta-and-
    // affected-cell sized, never a corpus-pairs recompute.
    Q(
      "q514_incremental_nav_edges",
      (s, dir) => maintainedNavEdgesB(s, dir).orderBy("id_a", "id_b"),
      Some(s"""
        WITH $BembCte, ${navGraphCteOver("bemb")}
        SELECT id_a, id_b FROM nav ORDER BY id_a, id_b
      """.trim)),

    // PINNED split stability across snapshot versions — VERDICT_r11 next
    // #2: q509 hashes the CURRENT component id, so when a new doc bridges
    // two version-A components, every doc of the losing component silently
    // flips train -> test — cross-version eval contamination its gate
    // cannot see. The policy that closes it (Splits.pinnedComponentSplits):
    // a SURVIVING doc keeps its version-A split unconditionally; a new doc
    // inherits its component's pinned split (the lowest-id surviving
    // member's); an all-new component hashes its component id (exactly
    // q509's rule — versions never diverge on fresh data); a component
    // whose surviving members carry CONFLICTING priors (two pinned
    // components merged) is QUARANTINED — no assignment can be both
    // stable and leak-free once pinned splits collide, so its docs keep
    // their non-flipped splits and are flagged out of eval. BOTH
    // invariants ride the gate value: n_flipped_surviving = 0 (stability)
    // and n_leaky_pairs = 0 over non-quarantined pairs (leakage), counted
    // from the version-B pair set maintained by q512's incremental path.
    // Scale: CC fixpoints are the q61 pointer-halving loop; the pin
    // resolution is one component-keyed aggregate; the audits are
    // delta-bounded joins.
    Q(
      "q515_pinned_split_stability",
      (s, dir) => {
        val st = splitStateB(s, dir)
        val flips = st.assigned.join(st.aSplit, Seq("doc_id"))
          .agg(coalesce(sum(when(col("split") =!= col("prior_split"), 1L)
            .otherwise(0L)), lit(0L)).as("n_flipped_surviving"))
        val leak = st.bPairs
          .join(st.assigned.select(col("doc_id").as("id_a"),
            col("split").as("__sa"), col("quarantined").as("__qa"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(st.assigned.select(col("doc_id").as("id_b"),
            col("split").as("__sb"), col("quarantined").as("__qb"))
            .hint("shuffle_hash"), Seq("id_b"))
          .agg(coalesce(sum(when(col("__sa") =!= col("__sb")
              && col("__qa") === 0 && col("__qb") === 0, 1L)
            .otherwise(0L)), lit(0L)).as("n_leaky_pairs"))
        st.assigned.crossJoin(broadcast(flips)).crossJoin(broadcast(leak))
          .select(col("doc_id"), col("component"), col("split"),
            col("quarantined"), col("n_flipped_surviving"), col("n_leaky_pairs"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE $pinnedSplitCtes, flips AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN x.split <> a.prior_split
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flipped_surviving
          FROM assigned x JOIN asplit a ON a.doc_id = x.doc_id
        ), leak AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                   AND sa.quarantined = 0 AND sb.quarantined = 0
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaky_pairs
          FROM verified v
          JOIN assigned sa ON sa.doc_id = v.id_a
          JOIN assigned sb ON sb.doc_id = v.id_b
        )
        SELECT doc_id, component, split, quarantined,
               n_flipped_surviving, n_leaky_pairs
        FROM assigned CROSS JOIN flips CROSS JOIN leak
        ORDER BY doc_id
      """.trim)),

    // Compaction DECIDE -> ACT loop — VERDICT_r11 next #3: q506 heals hot
    // partitions and q504 shows the decide->act pattern, but nothing
    // WATCHED fragmentation. This gate stages a realistic hot-partition
    // layout (the whole table written compact, then the 'en' partition
    // churned through the dynamic-overwrite ingest path under a
    // scale-stable ~8-file row cap), MEASURES per-partition file counts
    // from the scan itself (the `_metadata.file_name` census — q147's
    // machinery, so the health dial needs no filesystem walk and at
    // cluster scale runs where the data is), fires the threshold
    // (> 4 files), ACTS via the partition-scoped heal
    // (Sinks.compactPartitions — only over-threshold directories rewrite,
    // compact siblings keep their files byte-for-byte, spec-pinned), and
    // re-measures from the healed table. File counts are DETERMINISTIC
    // both sides: the clustered write lands each partition in one task,
    // so files = ceil(rows / cap) — the oracle derives pre AND post
    // health from row counts alone, and the Spark side must MEASURE the
    // same numbers from real files for the gate to hash-match.
    Q(
      "q516_compaction_decide_act",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val scr = graft.engine.Scratch.dir(s, dir, "compaction_loop")
        graft.engine.Scratch.rm(scr)
        val t = s"$scr/t"
        val docs = Tables.documents(s, dir).select("doc_id", "text", "lang")
        graft.engine.Sinks.writePartitioned(docs, t, Seq("lang"))
        val en = docs.filter(col("lang") === "en")
        val capRows = math.max((en.count() + 7L) / 8L, 1L)
        graft.engine.Sinks.overwritePartitionsDynamic(
          en, t, Seq("lang"), maxRecordsPerFile = capRows)
        def health(phase: String): DataFrame =
          Sources.parquet(s, t)
            .select(col("lang"), col("_metadata.file_name").as("__f"))
            .groupBy("lang")
            .agg(countDistinct(col("__f")).as("n_files"),
              count(lit(1)).as("n_rows"))
            .select(lit(phase).as("phase"), col("lang"), col("n_files"),
              col("n_rows"),
              when(col("n_files") > 4, 1L).otherwise(0L).as("fragmented"))
        // materialize the pre row before acting: the heal replaces the
        // files a lazy pre frame would re-read
        val pre = graft.engine.Sinks.writeAndReadBack(
          s, health("pre"), s"$scr/health_pre")
        // decide: any fragmented directory fires; act: partition-scoped heal
        val nFrag = pre.agg(coalesce(sum(col("fragmented")), lit(0L)))
          .head().getLong(0) // 1-row bounded gate
        if (nFrag > 0)
          graft.engine.Sinks.compactPartitions(s, t, targetFiles = 1, minFiles = 4): Unit
        pre.unionByName(health("post")).orderBy("phase", "lang")
      },
      Some(s"""
        WITH pc AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM documents GROUP BY lang
        ), cap AS (
          SELECT GREATEST((n_rows + 7) // 8, 1) AS caprows
          FROM pc WHERE lang = 'en'
        ), pre AS (
          SELECT lang, n_rows,
                 CAST(CASE WHEN lang = 'en'
                      THEN (n_rows + caprows - 1) // caprows
                      ELSE 1 END AS BIGINT) AS n_files
          FROM pc CROSS JOIN cap
        )
        SELECT 'pre' AS phase, lang, n_files, n_rows,
               CAST(CASE WHEN n_files > 4 THEN 1 ELSE 0 END AS BIGINT)
                 AS fragmented
        FROM pre
        UNION ALL
        SELECT 'post', lang,
               CASE WHEN n_files > 4 THEN 1 ELSE n_files END, n_rows, 0
        FROM pre
        ORDER BY phase, lang
      """.trim)),

    // The incremental pipeline END TO END — VERDICT_r11 next #4: q510 ->
    // q511 -> q512 -> q515 each gate a stage in isolation; this gate
    // drives ONE version-B snapshot through ALL of them and hash-compares
    // the final deliverable — the token-budget shard manifest — against a
    // from-scratch computation of the same policy in DuckDB. The chain:
    // content diff (q510) -> incrementally maintained exact-dedup
    // membership (q511's partition-scoped change sink) -> keep-first
    // canonical election -> incrementally maintained near-dup pairs
    // (q512) -> components -> PINNED splits with quarantine (q515's
    // policy) -> train-eligible canonicals -> mixture-stride schedule
    // (q508's operator over the B train corpus) -> 2048-token shard
    // manifest (q513's packing). A hash match here is the strongest
    // composition proof available: every incremental stage's output feeds
    // the next, so any divergence anywhere in the maintained state
    // surfaces in the final manifest. 100 TB: the whole chain's recompute
    // is delta-sized except the two corpus-linear floors (fingerprint
    // scan, schedule re-rank), exactly the stages that are one narrow
    // scan each.
    Q(
      "q517_incremental_pipeline_e2e",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val m = Round11Queries.incrementalMembers(s, dir, "e2e_members")
        val canon = m.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        // the PERSISTED split table (SharedFrames.pinnedSplitsB) — pinning
        // only works if version B's assignments are durable state, so the
        // artifact read IS the production shape; q515 keeps the policy's
        // construction live as its value gate
        val assigned = SharedFrames.pinnedSplitsB(s, dir)
        val train = stagedBFull(Tables.documents(s, dir))
          .join(canon, Seq("doc_id"), "left_semi")
          .join(assigned
            .filter(col("split") === "train" && col("quarantined") === 0)
            .select("doc_id"), Seq("doc_id"), "left_semi")
        val sched = Round11Queries.mixtureScheduleOver(
          s, train.select("doc_id", "lang"))
        val toks = train.select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
          .filter(col("n_tokens") > 0)
        val packed = graft.engine.Keys.globalRunningSum(
            sched.join(toks, Seq("doc_id")), "sched_pos", "n_tokens", "cum")
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
        WITH RECURSIVE $SnapshotBFullCte, $pinnedSplitCtes, b2f AS (
          SELECT doc_id, lang, text, md5(${ExtQueries.NormText}) AS fp
          FROM bsrcf
        ), canon AS (
          SELECT MIN(doc_id) AS doc_id FROM b2f GROUP BY fp
        ), train AS (
          SELECT f.doc_id, f.lang, f.text
          FROM b2f f
          JOIN canon c ON c.doc_id = f.doc_id
          JOIN assigned a ON a.doc_id = f.doc_id
           AND a.split = 'train' AND a.quarantined = 0
        ), td AS (
          SELECT doc_id, lang,
                 ${TextHash.duckHash60("'mix1#' || CAST(doc_id AS VARCHAR)")} AS h
          FROM train
        ), tr AS (
          SELECT doc_id, lang,
                 CAST(row_number() OVER (
                   PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS dom_pos
          FROM td
        ), tv AS (
          SELECT doc_id, lang,
                 CAST(dom_pos * 1000000 // (CASE lang WHEN 'en' THEN 4
                   WHEN 'zh' THEN 1 ELSE 2 END) AS BIGINT) AS vt
          FROM tr
        ), tsched AS (
          SELECT doc_id, lang,
                 CAST(row_number() OVER (ORDER BY vt, lang, doc_id) AS BIGINT)
                   AS sched_pos
          FROM tv
        ), ttoks AS (
          SELECT doc_id, CAST(len(${ExtQueries.Toks}) AS BIGINT) AS n_tokens
          FROM train
        ), tordered AS (
          SELECT s.doc_id, s.lang, s.sched_pos, t.n_tokens
          FROM tsched s JOIN ttoks t ON t.doc_id = s.doc_id
          WHERE t.n_tokens > 0
        ), tpacked AS (
          SELECT lang, sched_pos, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY sched_pos
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM tordered
        )
        SELECT CAST((cum - n_tokens) // 2048 AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               MIN(sched_pos) AS first_pos, MAX(sched_pos) AS last_pos,
               CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 END), 0)
                 AS BIGINT) AS n_en,
               CAST(COALESCE(SUM(CASE WHEN lang = 'zh' THEN 1 END), 0)
                 AS BIGINT) AS n_zh
        FROM tpacked GROUP BY 1 ORDER BY shard
      """.trim)),

    // Split-pinning TRANSITIVITY across THREE versions — the q515 policy
    // COMPOSED: version C arrives on top of B (snap2 hash buckets over the
    // B corpus: 0 of 10 removed, 1 revised — additions were q515's arm;
    // removals + revisions are what move components between established
    // versions), and C's assignment inherits from the PERSISTED B split
    // table (SharedFrames.pinnedSplitsB — the artifact IS the policy's
    // durable state, so chaining through it is the production shape, not
    // a shortcut). Three invariants ride the value: n_flipped_vs_b = 0
    // (C survivors keep their B splits), n_flipped_vs_a = 0 (docs
    // surviving ALL THREE versions still carry their ORIGINAL A split —
    // the transitivity the two pairwise gates only imply), and
    // n_leaky_pairs = 0 over C's verified pairs with non-quarantined
    // endpoints. Scale: one CC fixpoint over C's pair set, the B prior is
    // an artifact read, the A-split audit is one more CC + hash — all
    // component-bounded aggregates and delta-bounded joins.
    Q(
      "q520_split_pinning_transitive",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val docs = Tables.documents(s, dir)
        val cDocs = stagedC(Round11Queries.stagedB(docs))
        // version-C components over the INCREMENTALLY maintained pair set
        // (round 13 — the persisted B artifacts feed the C step, so the
        // steady-state split update is delta-priced; q521 hash-proves the
        // increment equals from-scratch, and this gate's own oracle still
        // derives C's pairs from scratch, so the equivalence is re-checked
        // through the whole policy chain here)
        // materialize: cross-action — connectedComponents' actions, then the leak audit
        val cPairs = incrementalCPairs(s, dir).select("id_a", "id_b").localCheckpoint()
        val cCc = NearDup.connectedComponents(cPairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"))
        val members = cDocs.select("doc_id").join(cCc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("component"))
        // prior = the PERSISTED version-B split table
        val priorB = SharedFrames.pinnedSplitsB(s, dir)
          .select(col("doc_id"), col("split").as("prior_split"))
        val assigned = Splits.pinnedComponentSplits(members, "doc_id",
          "component", priorB, "prior_split", SplitWeights)
        // invariant 1: no C survivor flips vs its B assignment
        val flipsB = assigned.join(priorB, Seq("doc_id"))
          .agg(coalesce(sum(when(col("split") =!= col("prior_split"), 1L)
            .otherwise(0L)), lit(0L)).as("n_flipped_vs_b"))
        // invariant 2 (TRANSITIVITY): docs surviving A -> B -> C still
        // carry their version-A split
        val aPairs = SharedFrames.verifiedDocPairs(s, dir).select("id_a", "id_b")
        val aCc = NearDup.connectedComponents(aPairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"))
        val aSplit = docs.select("doc_id").join(aCc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            graft.ext.TextAnalysis.splitAssign(
              coalesce(col("cluster_id"), col("doc_id")), SplitWeights)
              .as("a_split"))
        val flipsA = assigned.join(aSplit, Seq("doc_id"))
          .agg(coalesce(sum(when(col("split") =!= col("a_split"), 1L)
            .otherwise(0L)), lit(0L)).as("n_flipped_vs_a"))
        // invariant 3: zero leakage over C's pairs outside quarantine
        val leak = cPairs
          .join(assigned.select(col("doc_id").as("id_a"),
            col("split").as("__sa"), col("quarantined").as("__qa"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(assigned.select(col("doc_id").as("id_b"),
            col("split").as("__sb"), col("quarantined").as("__qb"))
            .hint("shuffle_hash"), Seq("id_b"))
          .agg(coalesce(sum(when(col("__sa") =!= col("__sb")
              && col("__qa") === 0 && col("__qb") === 0, 1L)
            .otherwise(0L)), lit(0L)).as("n_leaky_pairs"))
        assigned.crossJoin(broadcast(flipsB)).crossJoin(broadcast(flipsA))
          .crossJoin(broadcast(leak))
          .select(col("doc_id"), col("component"), col("split"),
            col("quarantined"), col("n_flipped_vs_b"), col("n_flipped_vs_a"),
            col("n_leaky_pairs"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE $pinnedSplitCtes, csrc AS (
          SELECT doc_id,
                 CASE WHEN h2 = 1 THEN text || ' rev3' ELSE text END AS text
          FROM (
            SELECT doc_id, text,
                   ${TextHash.duckHash60("'snap2#' || CAST(doc_id AS VARCHAR)")}
                     % 10 AS h2
            FROM bsrc)
          WHERE h2 <> 0
        ), ${ExtQueries.minhashPairsCteOver("csrc", prefix = "c_")
          .stripPrefix("WITH ").trim}, c_e2 AS (
          SELECT id_a AS src, id_b AS dst FROM c_verified
          UNION
          SELECT id_b AS src, id_a AS dst FROM c_verified
        ), c_reach(v, label) AS (
          SELECT src, src FROM c_e2
          UNION
          SELECT e.dst, r.label FROM c_reach r JOIN c_e2 e ON e.src = r.v
        ), c_cc AS (
          SELECT v AS doc_id, CAST(MIN(label) AS BIGINT) AS component
          FROM c_reach GROUP BY v
        ), c_members AS (
          SELECT c.doc_id, COALESCE(c_cc.component, c.doc_id) AS component
          FROM csrc c LEFT JOIN c_cc ON c_cc.doc_id = c.doc_id
        ), c_surv AS (
          SELECT m.doc_id, m.component, a.split AS prior_split
          FROM c_members m LEFT JOIN assigned a ON a.doc_id = m.doc_id
        ), c_pins AS (
          SELECT component,
                 COUNT(DISTINCT prior_split) AS n_pins,
                 arg_min(prior_split, doc_id)
                   FILTER (WHERE prior_split IS NOT NULL) AS pin_split
          FROM c_surv GROUP BY component
        ), c_assigned AS (
          SELECT s.doc_id, s.component,
                 CASE WHEN s.prior_split IS NOT NULL THEN s.prior_split
                      WHEN p.n_pins = 0 THEN
                        CASE WHEN ${TextHash.duckHash60(
                            "CAST(s.component AS VARCHAR)")} % 100 < 80
                               THEN 'train'
                             WHEN ${TextHash.duckHash60(
                            "CAST(s.component AS VARCHAR)")} % 100 < 90
                               THEN 'val'
                             ELSE 'test' END
                      ELSE p.pin_split END AS split,
                 CAST(CASE WHEN p.n_pins > 1 THEN 1 ELSE 0 END AS INTEGER)
                   AS quarantined
          FROM c_surv s JOIN c_pins p ON p.component = s.component
        ), c_flips_b AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN x.split <> a.split
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flipped_vs_b
          FROM c_assigned x JOIN assigned a ON a.doc_id = x.doc_id
        ), c_flips_a AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN x.split <> s.prior_split
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flipped_vs_a
          FROM c_assigned x JOIN asplit s ON s.doc_id = x.doc_id
        ), c_leak AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                   AND sa.quarantined = 0 AND sb.quarantined = 0
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaky_pairs
          FROM c_verified v
          JOIN c_assigned sa ON sa.doc_id = v.id_a
          JOIN c_assigned sb ON sb.doc_id = v.id_b
        )
        SELECT doc_id, component, split, quarantined,
               n_flipped_vs_b, n_flipped_vs_a, n_leaky_pairs
        FROM c_assigned CROSS JOIN c_flips_b CROSS JOIN c_flips_a
          CROSS JOIN c_leak
        ORDER BY doc_id
      """.trim)),

    // Recall frontier past beam-16 with a NON-beam knob — VERDICT_r11 next
    // #5: the sweep showed beam saturating (77-78% at 12-16) and hops flat
    // at 4+ (re-measured this round: hops 5 and 6 at beam 8 both read
    // exactly 70%). The knob that was NOT saturated is the ENTRY SET. The
    // full offline sweep (replayed through the oracle CTE twins, so the
    // numbers are the gate's own arithmetic): medoid-per-cell seeds read
    // WORSE than hash (33% vs 70% at the q503 budget — cell-central
    // vectors are the hubs mutual-kNN strips, so they sit poorly
    // connected); hash count helps (64 -> 75%, 128 -> 93%); DEGREE-RANKED
    // seeds dominate per entry (64 top-degree seeds -> 90% at hops=4
    // beam=8). This gate pins that entry-QUALITY point: the identical
    // q503 walk budget (hops 4, beam 8, k 3) with the 32 hash entries
    // swapped for Similarity.topDegreeNodes(navEdges, 64) — recall 70% ->
    // 90% (54/60), past q505's 81.7% while keeping the beam-8 per-hop
    // cost. Seed selection is one degree aggregate over the materialized
    // edge artifact — edge-linear, corpus-dwarfed, artifact-maintainable
    // (q514 keeps the edge set fresh).
    Q(
      "q518_degree_seeded_recall",
      (s, dir) => recallAudit(s, dir, beam = 8,
        (_, edges) => Similarity.topDegreeNodes(edges, 64)),
      Some(recallOracle(8,
        """SELECT node FROM (
            SELECT u AS node, COUNT(*) AS deg FROM (
              SELECT id_a AS u FROM nav UNION ALL SELECT id_b AS u FROM nav)
            GROUP BY u ORDER BY deg DESC, node LIMIT 64)"""))),

    // The recall frontier's new TOP point — entry count composed with
    // beam: 128 hash-ordered entries at beam 16 reads 95% (57/60), the
    // highest audited operating point on this graph (vs 81.7% before this
    // round). Gating the curve's top alongside q518's quality point keeps
    // BOTH recall dials audited: a deployment picks degree seeding when
    // per-hop cost is the constraint (90% at beam 8) and the composed
    // point when recall is (95% at beam 16). Entry scale-out is the
    // bounded-probe convention throughout — hashOrderedProbes stays
    // value-bounded at any corpus size.
    Q(
      "q519_recall_frontier_point",
      (s, dir) => recallAudit(s, dir, beam = 16,
        (e, _) => Similarity.hashOrderedProbes(
          e.select("vec_id"), "vec_id", "entry", 128)),
      Some(recallOracle(16,
        s"""SELECT vec_id AS node FROM embeddings
          ORDER BY ${TextHash.duckHash60("'entry#' || CAST(vec_id AS VARCHAR)")},
                   vec_id
          LIMIT 128""")))
  )
}
