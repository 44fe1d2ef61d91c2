package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{NearDup, Similarity, Splits, TextAnalysis, TextHash}
import graft.ext.NearDup.duckConnectedComponents
import graft.ext.Similarity.duckDot

/** Round-13 additions — executing VERDICT_r12's list: the maintenance
  * story extended to the surfaces q520/q518 exposed, plus the quarantine
  * lifecycle and the cell-count scale contract:
  *   - q521: version-C near-dup pairs via the INCREMENTAL maintenance
  *     step over the persisted B-state artifacts, hash-proven equal to
  *     from-scratch LSH over C — the equivalence that lets q520's
  *     steady-state split update run delta-priced (it now consumes the
  *     same incremental pair set).
  *   - q522: recall re-audited on the MAINTAINED version-B graph (the
  *     q514 keep/redo output read back as the navEdgesB artifact) at the
  *     q518 operating point, with degree seeds recomputed from the
  *     maintained edges — chaining X501 into X505.
  *   - q523: the QUARANTINE LIFECYCLE on real data — a content revision
  *     bridges two pinned singleton components (the merge arm fires
  *     through the DuckDB oracle, not just the spec), the bridge doc is
  *     then removed (the conflict dissolves), and after the retireAfter=2
  *     calm window the component re-enters eval with zero flips anywhere.
  *   - q524: the cell-count SCALE CONTRACT measured — SRP plane count
  *     derived from corpus size (cells ≈ n/64, so in-cell joins stay
  *     corpus-linear at any scale), then the standard in-cell search.
  * Same determinism discipline as the whole registry: hash-derived
  * fixtures, total-order ties, integer-micro ratios, DuckDB oracle twins
  * from first principles.
  */
object Round13Queries {

  /** DuckDB twin of one [[graft.ext.Splits.pinnedComponentSplitsVersioned]]
    * application at the given retireAfter: members relation `mem(doc_id,
    * component)` joined against prior relation `prior(doc_id, split,
    * quarantined, stable_for)`, emitting `out(doc_id, component, split,
    * quarantined, stable_for)`. The split arms mirror the single-step
    * policy; the flag arms carry the lifecycle (live conflict -> flagged +
    * clock reset; dissolved conflict -> cooling until retireAfter calm
    * versions; otherwise clear). Shared with Round14's organic-chain gate.
    */
  private[queries] def versionedPolicyCte(mem: String, prior: String,
      out: String, retireAfter: Int = 2): String = {
    val compHash = TextHash.duckHash60("CAST(s.component AS VARCHAR)")
    s"""${out}_surv AS (
          SELECT m.doc_id, m.component, p.split AS prior_split,
                 p.quarantined AS pq, p.stable_for AS psf
          FROM $mem m LEFT JOIN $prior p ON p.doc_id = m.doc_id
        ), ${out}_pins AS (
          SELECT component,
                 COUNT(DISTINCT prior_split) AS n_pins,
                 arg_min(prior_split, doc_id)
                   FILTER (WHERE prior_split IS NOT NULL) AS pin_split,
                 MAX(COALESCE(pq, 0)) AS anyq,
                 MIN(CASE WHEN pq = 1 THEN psf END) AS minsf
          FROM ${out}_surv GROUP BY component
        ), $out AS MATERIALIZED (
          SELECT s.doc_id, s.component,
                 CASE WHEN s.prior_split IS NOT NULL THEN s.prior_split
                      WHEN p.n_pins = 0 THEN
                        CASE WHEN $compHash % 100 < 80 THEN 'train'
                             WHEN $compHash % 100 < 90 THEN 'val'
                             ELSE 'test' END
                      ELSE p.pin_split END AS split,
                 CAST(CASE WHEN p.n_pins > 1 THEN 1
                           WHEN p.anyq = 1 AND p.minsf + 1 < $retireAfter THEN 1
                           ELSE 0 END AS INTEGER) AS quarantined,
                 CAST(CASE WHEN p.n_pins > 1 THEN 0
                           WHEN p.anyq = 1 THEN p.minsf + 1
                           ELSE 0 END AS INTEGER) AS stable_for
          FROM ${out}_surv s JOIN ${out}_pins p ON p.component = s.component
        )""".stripMargin.trim
  }

  val qs: Seq[Q] = Seq(

    // INCREMENTAL pairs at version C — VERDICT_r12 next #3: q512 proves
    // the A -> B maintenance step; q520's transitivity gate used to
    // rebuild C's pair set from scratch anyway (the one full re-shingle
    // left on the versioned path). This gate applies the SAME engine
    // operator (NearDup.incrementalPairs) at B -> C, reading the PERSISTED
    // B-state artifacts (SharedFrames.bPairs/bSigs/bShingles — themselves
    // built delta-wise from the A artifacts), and hash-compares against
    // from-scratch LSH over version C. The `src` column makes the delta
    // pricing VISIBLE in the gate value: 'kept' rows rode the artifact
    // untouched (both endpoints unchanged), 'regen' rows are the only
    // pairs whose text was re-processed — and the from-scratch oracle
    // derives the same labels from the change classes alone, so the
    // keep/redo split itself is oracle-checked. q520 consumes exactly
    // this pair set for its invariants, so the steady-state split update
    // is now delta-priced end to end. 100 TB: per-version cost is the
    // revised slice's postings plus artifact anti-joins, never a corpus
    // re-shingle.
    Q(
      "q521_incremental_pairs_version_c",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val fresh = Round12Queries.freshAtC(
            Round11Queries.stagedB(Tables.documents(s, dir)))
          .select(col("doc_id"))
        Round12Queries.incrementalCPairs(s, dir)
          .join(fresh.select(col("doc_id").as("id_a"), lit(1).as("__fa")),
            Seq("id_a"), "left")
          .join(fresh.select(col("doc_id").as("id_b"), lit(1).as("__fb")),
            Seq("id_b"), "left")
          .select(col("id_a"), col("id_b"), col("jaccard"),
            when(col("__fa") === 1 || col("__fb") === 1, "regen")
              .otherwise("kept").as("src"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH ${Round11Queries.SnapshotBCte}, csrc AS (
          SELECT doc_id,
                 CASE WHEN h2 = 1 THEN text || ' rev3' ELSE text END AS text
          FROM (
            SELECT doc_id, text,
                   ${TextHash.duckHash60("'snap2#' || CAST(doc_id AS VARCHAR)")}
                     % 10 AS h2
            FROM bsrc)
          WHERE h2 <> 0
        ), ${ExtQueries.minhashPairsCteOver("csrc", prefix = "c_")
          .stripPrefix("WITH ").trim}
        SELECT id_a, id_b, jaccard,
               CASE WHEN ${TextHash.duckHash60(
                   "'snap2#' || CAST(id_a AS VARCHAR)")} % 10 = 1
                      OR ${TextHash.duckHash60(
                   "'snap2#' || CAST(id_b AS VARCHAR)")} % 10 = 1
                    THEN 'regen' ELSE 'kept' END AS src
        FROM c_verified ORDER BY id_a, id_b
      """.trim)),

    // Recall on the MAINTAINED graph — VERDICT_r12 next #4 (X501 chained
    // into X505): q518/q519 audit the version-A navEdges artifact, but
    // after a q514 maintenance cycle the serving tier holds the MAINTAINED
    // version-B graph, and nothing re-audited recall there. This gate runs
    // the q518 operating point (hops 4, beam 8, 64 degree-ranked seeds —
    // the seeds recomputed FROM THE MAINTAINED EDGES, as a deployment
    // would after every maintenance cycle) over SharedFrames.navEdgesB,
    // scored against version B's own brute-force top-3 truth on B's 20
    // hash probes. Because q514 proves maintained == from-scratch by
    // hash, this recall IS the from-scratch recall of version B's graph —
    // measured, not inferred. 100 TB: seed re-ranking is one edge-linear
    // aggregate over the maintained artifact; the audit probes are
    // bounded.
    Q(
      "q522_maintained_graph_recall",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        Round12Queries.recallAuditOver(
          // materialize: fanout — every walk hop and the truth re-read it; one copy is cheaper
          Round12Queries.stagedBEmb(Tables.embeddings(s, dir)).localCheckpoint(),
          SharedFrames.navEdgesB(s, dir), beam = 8,
          (_, edges) => Similarity.topDegreeNodes(edges, 64))
      },
      Some(Round12Queries.recallOracleOver(8,
        """SELECT node FROM (
            SELECT u AS node, COUNT(*) AS deg FROM (
              SELECT id_a AS u FROM nav UNION ALL SELECT id_b AS u FROM nav)
            GROUP BY u ORDER BY deg DESC, node LIMIT 64)""",
        "WITH " + Round12Queries.BembCte + ", "
          + Round12Queries.navGraphCteOver("bemb"),
        "bemb"))),

    // QUARANTINE LIFECYCLE on real data — VERDICT_r12 next #5 + optional
    // #8 in one gate: the single-step policy (q515/q520) recomputes the
    // flag from the live conflict, so nothing governs RE-ENTRY — a
    // dissolved conflict would re-enter eval instantly and flap right
    // back out if the bridging content returned. Four corpus versions
    // drive Splits.pinnedComponentSplitsVersioned (retireAfter = 2):
    //   v1 = the corpus, components + stateless splits (the q509 rule);
    //   v2 = the lowest-id singleton TEST doc's content is revised into
    //        an exact copy of the lowest-id singleton TRAIN doc's — the
    //        real-world revision that merges two pinned components; the
    //        merge-conflict arm fires ON REAL DATA through the oracle
    //        (n_q_v2 = 2, the component's both members);
    //   v3 = the bridge doc is removed — the conflict dissolves (the only
    //        no-flip resolution); the component COOLS (still flagged,
    //        stable_for = 1), pinning the anti-flap window;
    //   v4 = an unchanged corpus — the second calm version RETIRES the
    //        component (flag cleared, n_retired = 1), re-entering eval
    //        with the split its survivor always had.
    // Invariants ride the value: n_flipped_total = 0 across ALL THREE
    // transitions (retirement never flips a survivor), n_leaky_v2 = 0
    // outside quarantine, and the flagged share drains v2 -> v4 instead
    // of growing monotonically. The doc picks, both versions' pair sets
    // and every policy application are re-derived from first principles
    // in DuckDB. Scale: CC fixpoints over sparse pair sets, the policy is
    // one component-keyed aggregate per version, the v3 pair set is the
    // incremental kept arm (fresh slice empty), and the listing output is
    // three rows.
    Q(
      "q523_quarantine_lifecycle",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val docs = Tables.documents(s, dir)
        // version-1 state: components + stateless splits, no flags
        val aPairs = SharedFrames.verifiedDocPairs(s, dir).select("id_a", "id_b")
        val aCc = NearDup.connectedComponents(aPairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"))
        val st1 = docs.select("doc_id").join(aCc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("component"))
          .withColumn("split",
            TextAnalysis.splitAssign(col("component"), Round12Queries.SplitWeights))
          .withColumn("quarantined", lit(0))
          .withColumn("stable_for", lit(0))
          // materialize: decision — the bridge-doc picks are read from it; the version chain re-reads it
          .localCheckpoint()
        // the deterministic bridge fixture: lowest-id SINGLETON train/test
        // docs (two 1-row bounded gates)
        val paired = aPairs.select(col("id_a").as("doc_id"))
          .unionByName(aPairs.select(col("id_b").as("doc_id"))).distinct()
        val singles = st1.join(paired, Seq("doc_id"), "left_anti")
        val aId = singles.filter(col("split") === "train")
          .agg(min(col("doc_id"))).head().getLong(0)
        val bId = singles.filter(col("split") === "test")
          .agg(min(col("doc_id"))).head().getLong(0)
        // v2: doc b's content revised into an exact copy of doc a's
        val aText = docs.filter(col("doc_id") === aId)
          .select(col("text").as("__atext"))
        val v2 = docs.select("doc_id", "text").crossJoin(broadcast(aText))
          .select(col("doc_id"),
            when(col("doc_id") === bId, col("__atext"))
              .otherwise(col("text")).as("text"))
        // v2's pair set via the INCREMENTAL step (the q520/q521 delta
        // pricing): the single revised doc is the whole change slice, so
        // only its text is re-shingled against the A artifacts — and this
        // gate's own oracle still derives v2's pairs from scratch, so the
        // equivalence is re-checked through the policy chain here too
        val v2Pairs = NearDup.incrementalPairs(
            SharedFrames.verifiedDocPairs(s, dir),
            SharedFrames.minhashSigs(s, dir),
            SharedFrames.docShingles(s, dir, 3),
            gone = docs.filter(col("doc_id") === bId).select("doc_id"),
            fresh = v2.filter(col("doc_id") === bId),
            "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.8)
          // materialize: cross-action — connectedComponents' actions, then v3 and the audits
          .select("id_a", "id_b").localCheckpoint()
        def members(docIds: DataFrame, pairs: DataFrame): DataFrame = {
          val cc = NearDup.connectedComponents(pairs, "id_a", "id_b")
            .select(col("id").as("doc_id"), col("cluster_id"))
          docIds.join(cc, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("cluster_id"), col("doc_id")).as("component"))
        }
        def step(m: DataFrame, prior: DataFrame): DataFrame =
          Splits.pinnedComponentSplitsVersioned(m, "doc_id", "component",
              prior, "split", "quarantined", "stable_for",
              Round12Queries.SplitWeights, retireAfter = 2)
            // materialize: cross-action — the next step's actions and the final audit
            .localCheckpoint()
        val st2 = step(members(v2.select("doc_id"), v2Pairs), st1)
        // v3: the bridge doc leaves; the pair set is the incremental KEPT
        // arm (the fresh slice is empty — no text is re-processed)
        val v3Ids = v2.select("doc_id").filter(col("doc_id") =!= bId)
        val v3Pairs = v2Pairs
          .filter(col("id_a") =!= bId && col("id_b") =!= bId)
        // materialize: cross-action — read by the v3 and the v4 step
        val m3 = members(v3Ids, v3Pairs).localCheckpoint()
        val st3 = step(m3, st2)
        // v4: unchanged corpus — the calm window completes
        val st4 = step(m3, st3)
        // invariants
        def flips(cur: DataFrame, prior: DataFrame, as: String): DataFrame =
          cur.select(col("doc_id"), col("split"))
            .join(prior.select(col("doc_id"), col("split").as("__ps")),
              Seq("doc_id"))
            .agg(coalesce(sum(when(col("split") =!= col("__ps"), 1L)
              .otherwise(0L)), lit(0L)).as(as))
        val nFlipped = flips(st2, st1, "__f2")
          .crossJoin(flips(st3, st2, "__f3"))
          .crossJoin(flips(st4, st3, "__f4"))
          .select((col("__f2") + col("__f3") + col("__f4"))
            .as("n_flipped_total"))
        def qShare(st: DataFrame, as: String): DataFrame =
          st.agg(coalesce(sum(col("quarantined").cast("long")), lit(0L)).as(as))
        val retired = st3.filter(col("quarantined") === 1).select("doc_id")
          .join(st4.filter(col("quarantined") === 0).select("doc_id"),
            Seq("doc_id"))
          .agg(count(lit(1)).as("n_retired"))
        val leak = v2Pairs
          .join(st2.select(col("doc_id").as("id_a"), col("split").as("__sa"),
            col("quarantined").as("__qa")).hint("shuffle_hash"), Seq("id_a"))
          .join(st2.select(col("doc_id").as("id_b"), col("split").as("__sb"),
            col("quarantined").as("__qb")).hint("shuffle_hash"), Seq("id_b"))
          .agg(coalesce(sum(when(col("__sa") =!= col("__sb")
              && col("__qa") === 0 && col("__qb") === 0, 1L)
            .otherwise(0L)), lit(0L)).as("n_leaky_v2"))
        def phaseRows(st: DataFrame, phase: String, ids: Seq[Long]): DataFrame =
          st.filter(col("doc_id").isInCollection(ids))
            .select(lit(phase).as("phase"), col("doc_id"), col("split"),
              col("quarantined"), col("stable_for"))
        phaseRows(st2, "v2", Seq(aId, bId))
          .unionByName(phaseRows(st3, "v3", Seq(aId)))
          .unionByName(phaseRows(st4, "v4", Seq(aId)))
          .crossJoin(broadcast(nFlipped))
          .crossJoin(broadcast(qShare(st2, "n_q_v2")))
          .crossJoin(broadcast(qShare(st3, "n_q_v3")))
          .crossJoin(broadcast(qShare(st4, "n_q_v4")))
          .crossJoin(broadcast(retired))
          .crossJoin(broadcast(leak))
          .orderBy("phase", "doc_id")
      },
      Some {
        val aChain = ExtQueries.minhashPairsCteOver("documents", prefix = "a_")
          .stripPrefix("WITH ").trim
        val v2Chain = ExtQueries.minhashPairsCteOver("v2src", prefix = "v2_")
          .stripPrefix("WITH ").trim
        val compHash = TextHash.duckHash60("CAST(c.component AS VARCHAR)")
        s"""
        WITH RECURSIVE $aChain, a_ver AS MATERIALIZED (
          SELECT id_a, id_b FROM a_verified
        ), ${duckConnectedComponents("a_ver", "a_cc")}, st1 AS MATERIALIZED (
          SELECT c.doc_id, c.component,
                 CASE WHEN $compHash % 100 < 80 THEN 'train'
                      WHEN $compHash % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 0 AS quarantined, 0 AS stable_for
          FROM (
            SELECT d.doc_id, COALESCE(a_cc.component, d.doc_id) AS component
            FROM documents d LEFT JOIN a_cc ON a_cc.doc_id = d.doc_id) c
        ), a_paired AS (
          SELECT id_a AS doc_id FROM a_ver
          UNION SELECT id_b FROM a_ver
        ), pick AS MATERIALIZED (
          SELECT
            (SELECT MIN(s.doc_id) FROM st1 s
             WHERE s.split = 'train'
               AND s.doc_id NOT IN (SELECT doc_id FROM a_paired)) AS aid,
            (SELECT MIN(s.doc_id) FROM st1 s
             WHERE s.split = 'test'
               AND s.doc_id NOT IN (SELECT doc_id FROM a_paired)) AS bid
        ), v2src AS MATERIALIZED (
          SELECT d.doc_id,
                 CASE WHEN d.doc_id = p.bid
                      THEN (SELECT dd.text FROM documents dd
                            JOIN pick pp ON dd.doc_id = pp.aid)
                      ELSE d.text END AS text
          FROM documents d CROSS JOIN pick p
        ), $v2Chain, v2_ver AS MATERIALIZED (
          SELECT id_a, id_b FROM v2_verified
        ), ${duckConnectedComponents("v2_ver", "v2_cc")}, mem2 AS MATERIALIZED (
          SELECT v.doc_id, COALESCE(v2_cc.component, v.doc_id) AS component
          FROM v2src v LEFT JOIN v2_cc ON v2_cc.doc_id = v.doc_id
        ), ${versionedPolicyCte("mem2", "st1", "st2")}, v3_pairs AS (
          SELECT id_a, id_b FROM v2_ver
          CROSS JOIN pick WHERE id_a <> bid AND id_b <> bid
        ), ${duckConnectedComponents("v3_pairs", "v3_cc")}, mem3 AS MATERIALIZED (
          SELECT v.doc_id, COALESCE(v3_cc.component, v.doc_id) AS component
          FROM v2src v CROSS JOIN pick
          LEFT JOIN v3_cc ON v3_cc.doc_id = v.doc_id
          WHERE v.doc_id <> bid
        ), ${versionedPolicyCte("mem3", "st2", "st3")},
        ${versionedPolicyCte("mem3", "st3", "st4")}, flips AS (
          SELECT CAST(
            (SELECT COALESCE(SUM(CASE WHEN x.split <> p.split
               THEN 1 ELSE 0 END), 0)
             FROM st2 x JOIN st1 p ON p.doc_id = x.doc_id)
          + (SELECT COALESCE(SUM(CASE WHEN x.split <> p.split
               THEN 1 ELSE 0 END), 0)
             FROM st3 x JOIN st2 p ON p.doc_id = x.doc_id)
          + (SELECT COALESCE(SUM(CASE WHEN x.split <> p.split
               THEN 1 ELSE 0 END), 0)
             FROM st4 x JOIN st3 p ON p.doc_id = x.doc_id)
          AS BIGINT) AS n_flipped_total
        ), qshare AS (
          SELECT
            (SELECT CAST(COALESCE(SUM(quarantined), 0) AS BIGINT) FROM st2)
              AS n_q_v2,
            (SELECT CAST(COALESCE(SUM(quarantined), 0) AS BIGINT) FROM st3)
              AS n_q_v3,
            (SELECT CAST(COALESCE(SUM(quarantined), 0) AS BIGINT) FROM st4)
              AS n_q_v4
        ), retired AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_retired
          FROM st3 a JOIN st4 b ON b.doc_id = a.doc_id
          WHERE a.quarantined = 1 AND b.quarantined = 0
        ), leak AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                   AND sa.quarantined = 0 AND sb.quarantined = 0
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaky_v2
          FROM v2_ver v
          JOIN st2 sa ON sa.doc_id = v.id_a
          JOIN st2 sb ON sb.doc_id = v.id_b
        ), listing AS (
          SELECT 'v2' AS phase, s.doc_id, s.split, s.quarantined, s.stable_for
          FROM st2 s CROSS JOIN pick p WHERE s.doc_id IN (p.aid, p.bid)
          UNION ALL
          SELECT 'v3', s.doc_id, s.split, s.quarantined, s.stable_for
          FROM st3 s CROSS JOIN pick p WHERE s.doc_id = p.aid
          UNION ALL
          SELECT 'v4', s.doc_id, s.split, s.quarantined, s.stable_for
          FROM st4 s CROSS JOIN pick p WHERE s.doc_id = p.aid
        )
        SELECT phase, doc_id, split, quarantined, stable_for,
               n_flipped_total, n_q_v2, n_q_v3, n_q_v4, n_retired, n_leaky_v2
        FROM listing CROSS JOIN flips CROSS JOIN qshare
          CROSS JOIN retired CROSS JOIN leak
        ORDER BY phase, doc_id
      """.trim
      }),

    // INCREMENTAL PQ-code maintenance from a vector snapshot diff — the
    // r12 SURVEY frontier's #1, the last maintenance surface: q501
    // ingests a STREAM and q504 rebuilds, but a BATCH version-B vector
    // snapshot should flow deletes + upserts through the commit log's
    // partition-scoped merge (TxLog.applyChanges) on the CELL-PARTITIONED
    // codes table — the q511 membership story lifted to the vector index.
    // The A-state
    // codes artifact (SharedFrames.ivfPqIndex) is staged as a private
    // working copy (gates are rerunnable; the shared artifact is never
    // mutated), the q514 vector staging supplies the change classes
    // (removed ids -> deletes carrying their cell, the partition
    // contract; revised + cloned vectors -> the ONLY rows re-encoded,
    // against the FROZEN index — no retrain on the maintenance path),
    // and the maintained table is hash-compared against the frozen-index
    // assignment of the WHOLE version-B corpus from first principles.
    // This also drives the observe-folded delete audit (R13.4) through a
    // second real consumer. 100 TB: per-snapshot cost is the fresh
    // slice's encode plus touched-cell rewrites, never a
    // corpus re-encode; the staging write is the gate's rerunnability
    // floor, not the operator's.
    Q(
      "q525_incremental_pq_codes",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val scr = graft.engine.Scratch.dir(s, dir, "inc_pq_codes")
        graft.engine.Scratch.rm(scr)
        val t = s"$scr/codes"
        val ix = SharedFrames.ivfPqIndex(s, dir)
        graft.engine.TxLog.append(
          ix.codes.select("id", "cell", "m", "g"), t, Some("cell"))
        val e = Tables.embeddings(s, dir)
        // Derived cells (round 14) change the maintenance contract in one
        // honest way: the cell is a function of the VECTOR, so a revised
        // embedding can MOVE cells — the change set must delete the old
        // row at its old derived cell (the caller knows the old vector; a
        // diff has both sides) and insert the new row wherever the frozen
        // quantizer now puts it. Removed ids delete at their old cell as
        // before; clones are pure inserts. Planes are the frozen A-index's
        // (derived from the full A corpus, like SharedFrames.ivfPqIndex).
        val planes = graft.ext.IvfPq.derivedPlanes(e.count())
        val oldCell =
          graft.ext.Similarity.hyperplaneBucketFast(
            col("embedding"), planes, graft.ext.IvfPq.Dim)
        val deletes = e
          .filter(Round12Queries.vInScope
            && (Round12Queries.vsnapBucket === 0L
              || Round12Queries.vsnapBucket === 1L))
          .select(col("vec_id").as("id"), oldCell.as("cell"))
        val upserts = graft.ext.IvfPq.assignCodes(
          graft.ext.IvfPq.residualParts(
            graft.ext.IvfPq.withDerivedCells(
              Round12Queries.freshBEmb(e), "embedding", planes),
            ix.cents, "vec_id", "embedding", "cell"),
          ix.cw)
        graft.engine.TxLog.applyChanges(
          s, t, deletes, upserts, "id", "cell")
        graft.engine.TxLog.read(s, t)
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
        WITH ${Round12Queries.BembCte}, ${Round9Queries.pqCte("x", "TRUE")},
        ${Round9Queries.frozenAssignCteOver("bemb", "b2", "xcents", "xcw", "xpl")}
        SELECT vec_id, CAST(cell AS BIGINT) AS cell,
               CAST(MAX(CASE WHEN m = 0 THEN g END) AS BIGINT) AS c0,
               CAST(MAX(CASE WHEN m = 1 THEN g END) AS BIGINT) AS c1,
               CAST(MAX(CASE WHEN m = 2 THEN g END) AS BIGINT) AS c2,
               CAST(MAX(CASE WHEN m = 3 THEN g END) AS BIGINT) AS c3
        FROM b2assign
        GROUP BY vec_id, cell
        ORDER BY vec_id
      """.trim)),

    // COMMIT-LOG table format — the r12 frontier's #5: the merge sinks
    // carry honest single-writer contracts, but a real lake coordinates
    // concurrent writers through a transactional log, not external locks.
    // graft.engine.TxLog is the minimal public-protocol shape (ordered
    // manifest log, immutable staged files, optimistic create-if-absent
    // version claims with rebase-and-retry): concurrency itself is
    // spec-pinned (TxLogSpec — disjoint appends and disjoint replaceWhere
    // both land whatever the interleaving; an aborted claim burns its slot
    // without blocking successors), while THIS gate oracle-checks the
    // protocol's CONTENT semantics end to end: three commits (append the
    // non-en slice, append the en slice, replaceWhere the en partition
    // with doubled n_chars) must read back as exactly the
    // last-snapshot table, with the version chain pinned in the value.
    // 100 TB: manifests are file-count metadata (this is what replaces
    // object-store listing), claims are one small atomic create, data IO
    // is the staged delta — and untouched partitions' files are never
    // rewritten, byte-for-byte (spec-pinned).
    Q(
      "q526_txlog_snapshot_reads",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val scr = graft.engine.Scratch.dir(s, dir, "txlog_gate")
        graft.engine.Scratch.rm(scr)
        val t = s"$scr/t"
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars", "lang")
        graft.engine.TxLog.append(
          docs.filter(col("lang") =!= "en"), t, Some("lang"))
        graft.engine.TxLog.append(
          docs.filter(col("lang") === "en"), t, Some("lang"))
        graft.engine.TxLog.replaceWhere(
          docs.filter(col("lang") === "en")
            .withColumn("n_chars", col("n_chars") * 2L),
          t, "lang", Seq("en"))
        graft.engine.TxLog.read(s, t)
          .withColumn("txlog_version",
            lit(graft.engine.TxLog.snapshot(s, t).version))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(CASE WHEN lang = 'en' THEN n_chars * 2
                    ELSE n_chars END AS BIGINT) AS n_chars,
               lang, CAST(2 AS BIGINT) AS txlog_version
        FROM documents ORDER BY doc_id
      """.trim)),

    // COMMIT-LOG GC — the maintenance leg q526 scopes out: a log that only
    // grows eventually pays manifest-listing and dead-file storage
    // forever. TxLog.vacuum drops manifests outside the retention window
    // and deletes exactly the files ONLY they reference (subtractive rule:
    // unreferenced files are never touched, so an in-flight writer's
    // staging can't be raced into data loss — spec-pinned with a planted
    // orphan). This gate runs q526's commit sequence, vacuums to the
    // latest version, and hash-checks BOTH contracts in one value: the
    // table content is byte-identical to the pre-vacuum snapshot (the
    // oracle re-derives it from first principles), and the measured GC
    // counters equal the protocol's predicted constants (2 manifests
    // dropped, exactly 1 dead file — the replaced en file; the clustered
    // stage lands one file per partition value per commit, so the counts
    // are deterministic at any SF). 100 TB: vacuum IO is manifest-sized
    // metadata plus the dead files themselves.
    Q(
      "q528_txlog_vacuum",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val scr = graft.engine.Scratch.dir(s, dir, "txlog_vacuum")
        graft.engine.Scratch.rm(scr)
        val t = s"$scr/t"
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars", "lang")
        graft.engine.TxLog.append(
          docs.filter(col("lang") =!= "en"), t, Some("lang"))
        graft.engine.TxLog.append(
          docs.filter(col("lang") === "en"), t, Some("lang"))
        graft.engine.TxLog.replaceWhere(
          docs.filter(col("lang") === "en")
            .withColumn("n_chars", col("n_chars") * 2L),
          t, "lang", Seq("en"))
        val (manifests, files) = graft.engine.TxLog.vacuum(s, t, keepVersions = 1)
        graft.engine.TxLog.read(s, t)
          .withColumn("n_manifests_dropped", lit(manifests.toLong))
          .withColumn("n_files_deleted", lit(files.toLong))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(CASE WHEN lang = 'en' THEN n_chars * 2
                    ELSE n_chars END AS BIGINT) AS n_chars,
               lang, CAST(2 AS BIGINT) AS n_manifests_dropped,
               CAST(1 AS BIGINT) AS n_files_deleted
        FROM documents ORDER BY doc_id
      """.trim)),

    // GRAPH-DENSITY recall point — the r12 frontier's #4: the sweep showed
    // the WALK saturating on the standard graph (95% at 128 entries x
    // beam 16, and walking from EVERY node reads the same 95% — the last
    // misses are unreachable at the cosine-greedy cut, a GRAPH ceiling,
    // not a walk ceiling). The dial that moves past it is DENSITY, and
    // one knob suffices: a THIRD long-range pick per vector (nForeign
    // 2 -> 3, mutual-kNN untouched at k=3 — so the in-cell arm still
    // reads the standard artifact). Audited at the q519 budget the
    // denser graph reads 98.3% (59/60) at sf0.01, past the 95% ceiling
    // — lifted by edges, not probes (k=4 mutual edges measured the same
    // 59/60 at higher build cost, so the pick knob is the efficient
    // one). Cost shape: build-side only — the pick stage emits 3 rows
    // per vector instead of 2 and the per-hop walk cost is unchanged at
    // the same beam; density trades one-time build IO for recall where
    // beam/entries trade per-query work. The composed edge set lives as
    // the SharedFrames.denseNavEdges artifact (round 14 — q534's
    // walk-budget frontier audits the same graph, so the build runs once
    // per session like a deployment's persisted serving graph).
    Q(
      "q527_dense_graph_recall",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val e = Tables.embeddings(s, dir)
        // the dense edge set is the shared serving-graph artifact
        // (round 14: q534's walk-budget frontier audits the same graph)
        val edges = SharedFrames.denseNavEdges(s, dir)
        Round12Queries.recallAuditOver(e, edges, beam = 16,
          (corpus, _) => Similarity.hashOrderedProbes(
            corpus.select("vec_id"), "vec_id", "entry", 128))
      },
      Some(Round12Queries.recallOracleOver(16,
        s"""SELECT vec_id AS node FROM embeddings
          ${Similarity.duckHashOrderedProbes("vec_id", "entry", 128)}""",
        "WITH " + Round12Queries.navGraphCteOver("embeddings", k = 3, nForeign = 3),
        "embeddings"))),

    // DERIVED cell count — VERDICT_r12 next #6, the scale contract the
    // q514 finding demanded measured: every in-cell ANN gate uses the
    // fixture's fixed label space, so cell SIZE grows linearly with the
    // corpus and the in-cell join quadratically — exactly what a
    // production index never does (it grows cell COUNT, bounding cell
    // size). Here the cell space is DERIVED from corpus size: the SRP
    // plane count is the smallest p with 2^p * 64 >= n (cells ~= n/64,
    // so expected cell size stays ~64 at ANY corpus size — sf0.01 gets
    // 8 buckets, sf0.1 32, the 10x rehearsal 512), assignment is p
    // codegen'd dot products per row (corpus-linear, no centroid fit, no
    // broadcast that grows with n), and the standard in-cell search runs
    // over the derived buckets. The 10x rehearsal ratio of THIS gate is
    // the measured form of the "cells bound in-cell joins" claim: total
    // join work is n x ~64 at every scale, so the ratio must stay
    // data-linear, where a fixed-cell variant reads quadratic. The count
    // is a 1-row bounded gate; the derivation is integer (no float log2
    // edge to disagree across engines).
    Q(
      "q524_derived_cell_count_ann",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val e = Tables.embeddings(s, dir)
        val n = e.count()
        // series capped at 56: (1L << 56) * 64 = 2^62 is the largest
        // shift-times-64 that cannot overflow a signed long in EITHER
        // engine (DuckDB evaluates the predicate for every series element,
        // so p=62 would overflow there even though Scala's find stops)
        val planes = math.max(1,
          (0 to 56).find(p => (1L << p) * 64L >= n).getOrElse(56))
        val b = e.select(col("vec_id"), col("embedding"),
          Similarity.hyperplaneBucketFast(col("embedding"), planes, 64)
            .as("bucket"))
        Similarity.annTopKByCell(
            b.filter(col("vec_id") % 20 === 0), b,
            "vec_id", "embedding", "bucket", k = 3)
          .withColumn("n_planes", lit(planes))
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH pl AS (
          SELECT CAST(GREATEST((
            SELECT MIN(p) FROM generate_series(0, 56) t(p)
            WHERE (CAST(1 AS BIGINT) << p) * 64
                    >= (SELECT COUNT(*) FROM embeddings)), 1) AS INTEGER)
            AS planes
        ), sb AS (
          SELECT vec_id,
                 ${Similarity.duckHyperplaneBucket("embedding", "planes - 1")} AS bucket
          FROM embeddings CROSS JOIN pl
        ), e AS (
          SELECT v.vec_id, v.embedding, sb.bucket,
                 sqrt(${duckDot("v.embedding", "v.embedding")}) AS nrm
          FROM embeddings v JOIN sb ON v.vec_id = sb.vec_id
        )
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                          c.vec_id) AS INTEGER) AS rank,
               ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine,
               pl.planes AS n_planes
        FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        CROSS JOIN pl
        WHERE q.vec_id % 20 = 0
        QUALIFY rank <= 3
        ORDER BY query_id, rank
      """.trim))
  )
}
