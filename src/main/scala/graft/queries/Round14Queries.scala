package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{IvfPq, NearDup, Similarity, Splits, TextAnalysis, TextHash}

/** Round-14 additions — executing VERDICT_r13's list. Opens with the
  * derived-cell lifecycle contract made MEASURABLE:
  *   - q529: the IVF-PQ index family now rides q524's derived cell rule
  *     (planes = f(corpus size), cells ≈ n/64 — SharedFrames.ivfPqIndex
  *     and every build/ingest/rebuild/maintenance gate re-celled this
  *     round); this gate pins the two numbers that make the whole
  *     lifecycle scale-honest, at every SF: the cell count follows the
  *     rule (so in-cell work stays corpus-linear), and the search
  *     coordinator's probed-cell list stays bounded by probes x nprobe
  *     (so the static partition filter reads a bounded file set however
  *     large the corpus grows).
  * Same determinism discipline as the whole registry: integer counts,
  * pinned flags as functions of measured values, DuckDB oracle twins
  * from first principles.
  */
object Round14Queries {

  /** Force MATERIALIZED on the named CTEs of a composed oracle — the q534
    * walk replay references shared hop frames from more than one
    * downstream chain, and DuckDB's default inlining re-evaluates the
    * whole graph-construction subtree per reference (measured: >60 min
    * un-materialized vs ~1 min materialized for the identical query).
    */
  private def materialize(sql: String, names: Seq[String]): String =
    names.foldLeft(sql)((s, n) =>
      s.replaceAll(s"(?<![A-Za-z0-9_])$n AS \\(", s"$n AS MATERIALIZED ("))

  val qs: Seq[Q] = Seq(

    // Derived-cell + probe-bound contract of the IVF-PQ LIFECYCLE —
    // VERDICT_r13 next #1's "done" clause, measured: q524 proved the
    // cells-follow-corpus-size rule for the standalone SRP gate; round 14
    // moved the whole index family onto it, and THIS gate hash-pins the
    // scale claims at any SF from the PERSISTED artifact:
    //   - n_cells = the artifact's coarse-quantizer size, which must obey
    //     the q524 rule ((1 << planes) * 64 >= n, minimal) — 8 cells at
    //     sf0.01, 32 at sf0.1, 512 at the 10x rehearsal, so expected cell
    //     size stays ~64 and every in-cell stage stays corpus-linear;
    //   - n_probed_cells = the distinct cells the q495 search
    //     coordinator's nprobe pick visits, which must stay within
    //     probes x nprobe (the bounded collect that becomes the static
    //     partition filter — bounded FILE IO at 100 TB, not just bounded
    //     compute).
    // Both flags are pinned functions of the measured values (the
    // q169/q499 envelope pattern); the counts themselves are the
    // deliverable. 1-row bounded gate; all reads are metadata-sized
    // (centroids, 50 probes) except one corpus count.
    Q(
      "q529_ivfpq_derived_cells_probe_bound",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val e = Tables.embeddings(s, dir)
        val n = e.count()
        val planes = IvfPq.derivedPlanes(n)
        val ix = SharedFrames.ivfPqIndex(s, dir)
        val nCells = ix.cents.count()
        val probes = Similarity.hashOrderedProbes(e, "vec_id", "ivfpq", 50)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        // the q495 coordinator's own nprobe pick (adcShortlist's qc stage)
        val qc = graft.plans.TopKPerKey.of(
            probes.crossJoin(broadcast(ix.cents))
              .select(col("query_id"), col("cell"),
                IvfPq.d2(col("qv"), col("centroid")).as("qd2")),
            keyCols = Seq("query_id"),
            order = Seq("qd2" -> true, "cell" -> true), k = 4)
        val nProbed = qc.select("cell").distinct().count()
        val df = s.range(1).select(
          lit(n).as("n_vectors"),
          lit(planes.toLong).as("n_planes"),
          lit(nCells).as("n_cells"),
          lit(nProbed).as("n_probed_cells"),
          when(lit((1L << planes) * 64L >= n)
              && lit(planes == 1 || (1L << (planes - 1)) * 64L < n),
            lit(1L)).otherwise(lit(0L)).as("cells_rule_ok"),
          when(lit(nProbed <= 50L * 4L), lit(1L)).otherwise(lit(0L))
            .as("probe_bound_ok"))
        df
      },
      Some(s"""
        WITH ${Round9Queries.pqCte("x", "TRUE")}, probes AS (
          SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          ORDER BY ${graft.ext.TextHash.duckHash60(
            "'ivfpq#' || CAST(vec_id AS VARCHAR)")}, vec_id
          LIMIT 50
        ), qc AS (
          SELECT query_id, cell FROM (
            SELECT p.query_id, c.cell,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY list_sum([
                       (CAST(p.qv[i] AS DOUBLE) - c.centroid[i])
                       * (CAST(p.qv[i] AS DOUBLE) - c.centroid[i])
                       FOR i IN generate_series(1, 64)]), c.cell) AS rn
            FROM probes p CROSS JOIN xcents c)
          WHERE rn <= 4
        ), nums AS (
          SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
                 (SELECT planes FROM xpl) AS n_planes,
                 (SELECT COUNT(*) FROM xcents) AS n_cells,
                 (SELECT COUNT(DISTINCT cell) FROM qc) AS n_probed_cells
        )
        SELECT CAST(n_vectors AS BIGINT) AS n_vectors,
               CAST(n_planes AS BIGINT) AS n_planes,
               CAST(n_cells AS BIGINT) AS n_cells,
               CAST(n_probed_cells AS BIGINT) AS n_probed_cells,
               CAST(CASE WHEN (CAST(1 AS BIGINT) << n_planes) * 64 >= n_vectors
                          AND (n_planes = 1 OR
                               (CAST(1 AS BIGINT) << (n_planes - 1)) * 64 < n_vectors)
                         THEN 1 ELSE 0 END AS BIGINT) AS cells_rule_ok,
               CAST(CASE WHEN n_probed_cells <= 200 THEN 1 ELSE 0 END AS BIGINT)
                 AS probe_bound_ok
        FROM nums
      """.trim)),

    // LOG-COORDINATED MERGE — VERDICT_r13 next #2: the partition-scoped
    // merge semantics (delete by key at a named partition, upsert by key,
    // cell-move = delete-at-old + insert-at-new) routed THROUGH the commit
    // log (TxLog.applyChanges):
    // each attempt merges against the snapshot it observed and claims the
    // next version; a lost claim re-merges on the new snapshot, so
    // concurrent writers COMPOSE (spec-pinned: disjoint and same-partition
    // writers both land, a mid-commit reader sees the prior snapshot, a
    // wrong-partition delete aborts with nothing committed). Landing this
    // round also surfaced and closed a real protocol hole: the claim
    // target used to come from a SECOND directory listing taken after the
    // snapshot read, so a commit landing between the two reads could be
    // leapfrogged — a silent lost update; snapshot and target now derive
    // from one listing, making any interleaved commit fail the claim into
    // a rebase. THIS gate oracle-checks the merge content end to end:
    // seed all documents (v0, log-coordinated upsert), then one change
    // batch (v1) that deletes an en hash-slice, doubles another en
    // slice's n_chars in place, and clones a zh slice into de under
    // negative ids (the cross-partition insert). The read-back must be
    // exactly the merged table with the version chain pinned in the value.
    // 100 TB: per-commit IO = touched partitions + staged delta; the
    // claim is one atomic create; an emptied partition drops out of the
    // manifest with no directory surgery.
    Q(
      "q530_txlog_coordinated_merge",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val scr = graft.engine.Scratch.dir(s, dir, "txlog_merge_gate")
        graft.engine.Scratch.rm(scr)
        val t = s"$scr/t"
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars", "lang")
        graft.engine.TxLog.upsert(s, t, docs, "doc_id", Some("lang"))
        val b = pmod(graft.ext.TextHash.hash60(
          concat(lit("txm#"), col("doc_id").cast("string"))), lit(8L))
        val deletes = docs
          .filter(col("lang") === "en" && b === 0L)
          .select(col("doc_id"), col("lang"))
        val upserts = docs
          .filter(col("lang") === "en" && b === 1L)
          .withColumn("n_chars", col("n_chars") * 2L)
          .unionByName(docs.filter(col("lang") === "zh" && b === 2L)
            .select((-col("doc_id") - lit(1L)).as("doc_id"),
              col("n_chars"), lit("de").as("lang")))
        graft.engine.TxLog.applyChanges(
          s, t, deletes, upserts, "doc_id", "lang")
        graft.engine.TxLog.read(s, t)
          .withColumn("txlog_version",
            lit(graft.engine.TxLog.snapshot(s, t).version))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH b AS (
          SELECT doc_id, n_chars, lang,
                 ${graft.ext.TextHash.duckHash60(
                   "'txm#' || CAST(doc_id AS VARCHAR)")} % 8 AS bkt
          FROM documents
        )
        SELECT doc_id,
               CAST(CASE WHEN lang = 'en' AND bkt = 1 THEN n_chars * 2
                    ELSE n_chars END AS BIGINT) AS n_chars,
               lang, CAST(1 AS BIGINT) AS txlog_version
        FROM b WHERE NOT (lang = 'en' AND bkt = 0)
        UNION ALL
        SELECT -doc_id - 1, CAST(n_chars AS BIGINT), 'de',
               CAST(1 AS BIGINT)
        FROM b WHERE lang = 'zh' AND bkt = 2
        ORDER BY doc_id
      """.trim)),

    // MANIFEST CHECKPOINTING — VERDICT_r13 next #3: version files are now
    // DELTA manifests (per-commit log IO is O(delta), not O(table files)
    // — at millions of live files a full-list-per-commit manifest IS the
    // write bottleneck), and a full-list checkpoint lands every 10
    // commits, so snapshot resolution reads the newest checkpoint plus at
    // most 10 deltas — never a year-long replay, never an O(history)
    // list-and-parse. THIS gate drives a 33-commit history (32 bucket
    // appends + one replaceWhere that crosses a checkpoint boundary) and
    // hash-pins the whole contract in one row set: the table content
    // (oracled from documents first principles), the resolved version
    // (32), the checkpoint base the read actually used (30 — proof the
    // resolution is checkpoint+suffix), and a replay-equivalence flag
    // (checkpoint-resolved file set == full-delta-replay file set — a
    // checkpoint is derived metadata and must never disagree with the
    // log). Per-commit data here is one row on purpose: the gate prices
    // PROTOCOL length, not data volume.
    Q(
      "q531_txlog_checkpointed_history",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        import s.implicits._
        val scr = graft.engine.Scratch.dir(s, dir, "txlog_ckpt_gate")
        graft.engine.Scratch.rm(scr)
        val t = s"$scr/t"
        // 32 per-bucket aggregates of documents — bounded driver read
        // (32 rows), each committed as its own tiny append
        val buckets = Tables.documents(s, dir)
          .groupBy((col("doc_id") % 32L).as("b"))
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .collect()
          .map(r => (r.getAs[Long]("b"), r.getAs[Long]("n_docs"),
            r.getAs[Long]("sum_chars")))
          .sortBy(_._1)
        buckets.foreach { case (b, n, sc) =>
          graft.engine.TxLog.append(
            Seq((b, n, sc, (b % 4L).toString)).toDF("b", "n_docs", "sum_chars", "g"),
            t, Some("g")): Unit
        }
        // v32: replace partition g=1 wholesale with doubled sums — a
        // remove-carrying delta landing past the v30 checkpoint
        graft.engine.TxLog.replaceWhere(
          buckets.filter(_._1 % 4L == 1L)
            .map { case (b, n, sc) => (b, n, sc * 2L, "1") }
            .toSeq.toDF("b", "n_docs", "sum_chars", "g"),
          t, "g", Seq("1"))
        val resolved = graft.engine.TxLog.snapshot(s, t)
        val replayed = graft.engine.TxLog.fullReplaySnapshot(s, t)
        val ckBase = graft.engine.TxLog.latestCheckpointVersion(s, t)
        val equal =
          resolved.version == replayed.version &&
            resolved.entries.map(_.path).sorted ==
              replayed.entries.map(_.path).sorted
        graft.engine.TxLog.read(s, t)
          .select(col("b"), col("n_docs"), col("sum_chars"),
            // partition-dir tokens come back type-inferred (int) — the
            // declared column is a string
            col("g").cast("string").as("g"),
            lit(resolved.version).as("txlog_version"),
            lit(ckBase).as("checkpoint_base"),
            lit(if (equal) 1L else 0L).as("replay_equal"))
          .orderBy("b")
      },
      Some("""
        SELECT doc_id % 32 AS b,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) * CASE WHEN (doc_id % 32) % 4 = 1
                    THEN 2 ELSE 1 END AS BIGINT) AS sum_chars,
               CAST((doc_id % 32) % 4 AS VARCHAR) AS g,
               CAST(32 AS BIGINT) AS txlog_version,
               CAST(30 AS BIGINT) AS checkpoint_base,
               CAST(1 AS BIGINT) AS replay_equal
        FROM documents
        GROUP BY doc_id % 32
        ORDER BY b
      """.trim)),

    // LOG-RESIDENT FILE STATISTICS — VERDICT_r13 next #8: a commit may
    // declare a numeric clustering column; the stage records each staged
    // file's min/max of it in the MANIFEST entry (one column-pruned pass
    // over the staged delta — IO the commit already pays), and readWhere
    // prunes the live file list from metadata before a single footer is
    // opened — the log-resident form of writeRangeClustered's layout
    // contract (Sinks.scala:86), and the piece that makes a range query
    // on a 100 TB log-table read a bounded file set chosen by the driver
    // from manifest bytes alone. THIS gate: 8 appends of contiguous
    // doc_id slices (1 file each, stats on doc_id), a range query
    // covering exactly slices 2-3, and one row pinning the content
    // aggregate (oracled from documents), the measured file counts
    // (2 of 8 scanned), and a pruned==full equivalence flag computed
    // from both scans' aggregates.
    Q(
      "q532_txlog_stats_pruned_read",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val scr = graft.engine.Scratch.dir(s, dir, "txlog_stats_gate")
        graft.engine.Scratch.rm(scr)
        val t = s"$scr/t"
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars").persist()
        val maxId = docs.agg(max("doc_id")).collect()(0).getAs[Long](0)
        val w = (maxId + 8L) / 8L // ceil((max+1)/8): doc_ids are 0..max
        (0L until 8L).foreach { i =>
          graft.engine.TxLog.append(
            docs.filter(col("doc_id") >= i * w && col("doc_id") < (i + 1L) * w)
              .repartition(1),
            t, None, statsCol = Some("doc_id")): Unit
        }
        docs.unpersist()
        val (lo, hi) = (2L * w, 4L * w - 1L)
        val (pruned, filesRead, filesTotal) =
          graft.engine.TxLog.readWhere(s, t, "doc_id", lo.toDouble, hi.toDouble)
        val agg = pruned
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        val full = graft.engine.TxLog.read(s, t)
          .filter(col("doc_id").between(lo, hi))
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        val a = agg.collect()(0); val f = full.collect()(0)
        s.range(1).select(
          lit(a.getAs[Long]("n_docs")).as("n_docs"),
          lit(a.getAs[Long]("sum_chars")).as("sum_chars"),
          lit(filesTotal.toLong).as("n_files_total"),
          lit(filesRead.toLong).as("n_files_read"),
          lit(if (filesRead < filesTotal) 1L else 0L).as("prune_ok"),
          lit(if (a == f) 1L else 0L).as("match_full"))
      },
      Some("""
        WITH m AS (SELECT (MAX(doc_id) + 8) // 8 AS w FROM documents)
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(8 AS BIGINT) AS n_files_total,
               CAST(2 AS BIGINT) AS n_files_read,
               CAST(1 AS BIGINT) AS prune_ok,
               CAST(1 AS BIGINT) AS match_full
        FROM documents, m
        WHERE doc_id BETWEEN 2 * w AND 4 * w - 1
      """.trim)),

    // ORGANIC QUARANTINE CHAIN — VERDICT_r13 next #6 (builder frontier
    // #3): q523 proved the lifecycle arms on an engineered two-version
    // bridge; this gate runs the policy through FOUR corpus versions where
    // the background is the REAL revision noise of the established
    // stagings (A -> B: snap removals/revisions/clones; B -> C: snap2
    // removals/revisions; C -> D: the same rule as snap3), and one
    // deterministic bridge doc rides the noise through a full
    // conflict -> retire -> re-conflict lineage (retireAfter = 1 so the
    // three lifecycle states fit three transitions; q523 pins the wider
    // anti-flap window):
    //   v2: the lowest-id CALM singleton test doc (untouched by all three
    //       staging rules — so the bridge, not the noise, is the only
    //       thing moving it) is revised into an exact copy of the calm
    //       train doc — merge-conflict fires amid organic noise;
    //   v3: the organic B -> C revision reverts it (its organic C text IS
    //       its original) — the conflict dissolves and the component
    //       RETIRES into eval;
    //   v4: the bridging content RETURNS with the organic C -> D noise —
    //       the retired component re-conflicts, proving re-entry is
    //       reversible, not sticky.
    // Every version's pair set comes from the TRIPLE-CHAINED incremental
    // maintenance operator (A artifacts -> v2 -> v3 -> v4 — one step
    // further than q521's double chain; the oracle re-derives each
    // version's pairs from scratch, so chained-incremental == scratch is
    // re-proven at depth 3 THROUGH the policy). Invariants ride the
    // value: zero split flips across all three transitions, zero leaky
    // non-quarantined pairs at EVERY version, the retired count, and the
    // flagged share per version against corpus size — bounded under real
    // noise, not monotone. 100 TB: per-version cost is change-slice
    // re-shingling + component-keyed aggregates; the CC fixpoints run on
    // sparse pair sets with the bounded-size single-job cutover.
    Q(
      "q533_organic_quarantine_chain",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val aPairs = SharedFrames.verifiedDocPairs(s, dir)
        val aCc = NearDup.connectedComponents(
            aPairs.select("id_a", "id_b"), "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"))
        val st1 = docs.select("doc_id").join(aCc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("component"))
          .withColumn("split",
            TextAnalysis.splitAssign(col("component"), Round12Queries.SplitWeights))
          .withColumn("quarantined", lit(0))
          .withColumn("stable_for", lit(0))
          // materialize: decision — the calm-doc picks are collected from it; the version chain re-reads it
          .localCheckpoint()
        // the CALM picks: lowest-id singleton train/test docs untouched by
        // every staging rule (snap >= 3: survives B un-revised, un-cloned;
        // snap2 >= 2: survives C un-revised; snap3 >= 2: survives D
        // un-revised) — four bounded driver reads (two ids, two texts)
        val snap3Bucket = pmod(TextHash.hash60(
          concat(lit("snap3#"), col("doc_id").cast("string"))), lit(10L))
        val calm = Round11Queries.snapBucket >= 3L &&
          Round12Queries.snap2Bucket >= 2L && snap3Bucket >= 2L
        val paired = aPairs.select(col("id_a").as("doc_id"))
          .unionByName(aPairs.select(col("id_b").as("doc_id"))).distinct()
        val singles = st1.join(paired, Seq("doc_id"), "left_anti").filter(calm)
        // both picks in ONE job, both texts in a second (round 15 — four
        // sequential driver reads collapsed to two; same values)
        val picks = singles.filter(col("split").isin("train", "test"))
          .groupBy("split").agg(min("doc_id").as("__id")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val aId = picks("train")
        val bId = picks("test")
        val texts = docs.filter(col("doc_id").isin(aId, bId))
          .select("doc_id", "text").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val aText = texts(aId)
        val bText = texts(bId)
        def one(id: Long, text: String) = Seq((id, text)).toDF("doc_id", "text")
        def members(ids: DataFrame, pairs: DataFrame): DataFrame = {
          val cc = NearDup.connectedComponents(
              pairs.select("id_a", "id_b"), "id_a", "id_b")
            .select(col("id").as("doc_id"), col("cluster_id"))
          ids.join(cc, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("cluster_id"), col("doc_id")).as("component"))
        }
        def step(m: DataFrame, prior: DataFrame): DataFrame =
          Splits.pinnedComponentSplitsVersioned(m, "doc_id", "component",
              prior, "split", "quarantined", "stable_for",
              Round12Queries.SplitWeights, retireAfter = 1)
            // materialize: cross-action — the next step's actions and the final audit
            .localCheckpoint()
        // ---- the four-version chain. Round 15: each version's FRESH
        // artifacts (the md5-heavy change-slice shingle + signature
        // frames) and the persisted-state unions depend only on the corpus
        // stagings and the bridge texts — never on the pair/CC/split chain
        // — so they materialize on a small thread pool OVERLAPPING the
        // driver-synchronous CC/step jobs (guide section 2.6, the
        // compactPartitions precedent). Values are untouched — this only
        // reorders independent jobs.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          // ---- v2: organic B noise + the bridge (bid copies aid's text)
          val gone2 = Round11Queries.goneIds(docs)
            .unionByName(one(bId, "").select("doc_id"))
          val fresh2 = Round11Queries.freshSlice(docs).unionByName(one(bId, aText))
          val bDocs = Round11Queries.stagedB(docs)
          // ---- v3 slices: organic C noise; bid's organic text IS its
          // original — the bridge reverts, the conflict dissolves
          val gone3 = Round12Queries.goneAtC(bDocs)
            .unionByName(one(bId, "").select("doc_id"))
          val fresh3 = Round12Queries.freshAtC(bDocs).unionByName(one(bId, bText))
          val cDocs = Round12Queries.stagedC(bDocs)
            // materialize: cross-action — read by the v4 slices on the pool and by ids4
            .localCheckpoint(eager = false)
          // ---- v4 slices: organic D noise (the snap3 rule over C) + the
          // bridge content RETURNS — the retired component re-conflicts
          val gone4 = cDocs.withColumn("__b", snap3Bucket)
            .filter(col("__b").isin(0L, 1L)).select("doc_id")
            .unionByName(one(bId, "").select("doc_id"))
          val fresh4 = cDocs.withColumn("__b", snap3Bucket)
            .filter(col("__b") === 1L)
            .select(col("doc_id"), concat(col("text"), lit(" rev4")).as("text"))
            .unionByName(one(bId, aText))
          def freshArtifacts(fresh: DataFrame): (DataFrame, DataFrame) = {
            val sh = NearDup.shingleFrame(fresh, "doc_id", "text", 3)
              // materialize: cross-action — sg's job, the pair step and the next state
              .localCheckpoint(eager = false)
            val sg = NearDup.minHashSignatureFrame(sh, "doc_id", 64)
              // materialize: cross-action — eager across threads; the pair step and the next state
              .localCheckpoint()
            (sh, sg)
          }
          val f2 = Future(freshArtifacts(fresh2))
          val f3 = Future(freshArtifacts(fresh3))
          val f4 = Future(freshArtifacts(fresh4))
          val (sh2, sg2) = Await.result(f2, Duration.Inf)
          val v2Pairs = NearDup.incrementalPairsPrepared(aPairs,
              SharedFrames.minhashSigs(s, dir), SharedFrames.docShingles(s, dir, 3),
              gone2, sh2, sg2, "doc_id", k = 64, bands = 16, threshold = 0.8)
            // materialize: cross-action — connectedComponents, the next pair step, the leak audit
            .localCheckpoint(eager = false)
          // v2 artifact states, delta-derived (the persisted-state inputs
          // of the next maintenance step — nothing corpus-sized is
          // recomputed), checkpointed on the pool, overlapping the v2
          // CC/step chain below
          val fState2 = Future {
            val v2Sigs = SharedFrames.minhashSigs(s, dir)
              .join(gone2, Seq("doc_id"), "left_anti")
              .unionByName(sg2)
              // materialize: cross-action — the v3 pair step and the v4 state union read it
              .localCheckpoint()
            val v2Shingles = SharedFrames.docShingles(s, dir, 3)
              .join(gone2, Seq("doc_id"), "left_anti")
              .unionByName(sh2)
              // materialize: cross-action — the v3 pair step and the v4 state union read it
              .localCheckpoint()
            (v2Sigs, v2Shingles)
          }
          val st2 = step(members(bDocs.select("doc_id"), v2Pairs), st1)
          val (v2Sigs, v2Shingles) = Await.result(fState2, Duration.Inf)
          val (sh3, sg3) = Await.result(f3, Duration.Inf)
          val v3Pairs = NearDup.incrementalPairsPrepared(v2Pairs, v2Sigs,
              v2Shingles, gone3, sh3, sg3, "doc_id", k = 64, bands = 16,
              threshold = 0.8)
            // materialize: cross-action — connectedComponents, the next pair step, the leak audit
            .localCheckpoint(eager = false)
          val st3 = step(members(cDocs.select("doc_id"), v3Pairs), st2)
          val v3Sigs = v2Sigs.join(gone3, Seq("doc_id"), "left_anti")
            .unionByName(sg3)
          val v3Shingles = v2Shingles.join(gone3, Seq("doc_id"), "left_anti")
            .unionByName(sh3)
          val (sh4, sg4) = Await.result(f4, Duration.Inf)
          val v4Pairs = NearDup.incrementalPairsPrepared(v3Pairs, v3Sigs,
              v3Shingles, gone4, sh4, sg4, "doc_id", k = 64, bands = 16,
              threshold = 0.8)
            // materialize: cross-action — connectedComponents' actions, then the leak audit
            .localCheckpoint(eager = false)
          val ids4 = cDocs.withColumn("__b", snap3Bucket)
            .filter(col("__b") =!= 0L).select("doc_id")
          val st4 = step(members(ids4, v4Pairs), st3)
        // ---- invariants — round 15: the nine per-version aggregates
        // (3 flips + 3 counts + 3 leaks) are fused into three union-tagged
        // single-pass aggregates (one row, same columns/values: each
        // version's term is a when(tag = v) arm of the same sums the
        // per-version frames computed), cutting six broadcast-side jobs
        // from the assembly
        def tagged(st: DataFrame, v: String): DataFrame =
          st.select(lit(v).as("__v"), col("doc_id"), col("split"),
            col("quarantined"), col("stable_for"))
        val stU = tagged(st2, "v2").unionByName(tagged(st3, "v3"))
          .unionByName(tagged(st4, "v4"))
        def sumv(v: String, cond: Column, as: String): Column =
          coalesce(sum(when(col("__v") === v && cond, 1L).otherwise(0L)),
            lit(0L)).as(as)
        val priorU = tagged(st1, "v2").unionByName(tagged(st2, "v3"))
          .unionByName(tagged(st3, "v4"))
        val nFlipped = stU.select(col("__v"), col("doc_id"), col("split"))
          .join(priorU.select(col("__v"), col("doc_id"),
            col("split").as("__ps")), Seq("__v", "doc_id"))
          .agg(coalesce(sum(when(col("split") =!= col("__ps"), 1L)
            .otherwise(0L)), lit(0L)).as("n_flipped_total"))
        val countsAll = stU.agg(
          sumv("v2", col("quarantined") =!= 0, "n_q_v2"),
          sumv("v2", lit(true), "n_docs_v2"),
          sumv("v3", col("quarantined") =!= 0, "n_q_v3"),
          sumv("v3", lit(true), "n_docs_v3"),
          sumv("v4", col("quarantined") =!= 0, "n_q_v4"),
          sumv("v4", lit(true), "n_docs_v4"))
        def tagPairs(pairs: DataFrame, v: String): DataFrame =
          pairs.select(lit(v).as("__v"), col("id_a"), col("id_b"))
        val pairsU = tagPairs(v2Pairs, "v2")
          .unionByName(tagPairs(v3Pairs, "v3"))
          .unionByName(tagPairs(v4Pairs, "v4"))
        val leakJoined = pairsU
          .join(stU.select(col("__v"), col("doc_id").as("id_a"),
            col("split").as("__sa"), col("quarantined").as("__qa"))
            .hint("shuffle_hash"), Seq("__v", "id_a"))
          .join(stU.select(col("__v"), col("doc_id").as("id_b"),
            col("split").as("__sb"), col("quarantined").as("__qb"))
            .hint("shuffle_hash"), Seq("__v", "id_b"))
        val leakCond = col("__sa") =!= col("__sb") &&
          col("__qa") === 0 && col("__qb") === 0
        val leaksAll = leakJoined.agg(
          sumv("v2", leakCond, "n_leaky_v2"),
          sumv("v3", leakCond, "n_leaky_v3"),
          sumv("v4", leakCond, "n_leaky_v4"))
        val retired = st2.filter(col("quarantined") === 1).select("doc_id")
          .join(st3.filter(col("quarantined") === 0).select("doc_id"),
            Seq("doc_id"))
          .agg(count(lit(1)).as("n_retired_v3"))
        val phases = stU.filter(col("doc_id").isInCollection(Seq(aId, bId)))
          .select(col("__v").as("phase"), col("doc_id"), col("split"),
            col("quarantined"), col("stable_for"))
        phases
          .crossJoin(broadcast(nFlipped))
          .crossJoin(broadcast(countsAll))
          .crossJoin(broadcast(retired))
          .crossJoin(broadcast(leaksAll))
          .orderBy("phase", "doc_id")
        } finally pool.shutdown()
      },
      Some {
        val aChain = ExtQueries.minhashPairsCteOver("documents", prefix = "a_")
          .stripPrefix("WITH ").trim
        val v2Chain = ExtQueries.minhashPairsCteOver("v2src", prefix = "v2_")
          .stripPrefix("WITH ").trim
        val v3Chain = ExtQueries.minhashPairsCteOver("v3src", prefix = "v3_")
          .stripPrefix("WITH ").trim
        val v4Chain = ExtQueries.minhashPairsCteOver("v4src", prefix = "v4_")
          .stripPrefix("WITH ").trim
        val compHash = TextHash.duckHash60("CAST(c.component AS VARCHAR)")
        def h(tag: String) =
          TextHash.duckHash60(s"'$tag#' || CAST(doc_id AS VARCHAR)") + " % 10"
        def hOf(tag: String, expr: String) =
          TextHash.duckHash60(s"'$tag#' || CAST($expr AS VARCHAR)") + " % 10"
        s"""
        WITH RECURSIVE $aChain, a_ver AS MATERIALIZED (
          SELECT id_a, id_b FROM a_verified
        ), ${Round13Queries.ccCte("a_ver", "a_cc")}, st1 AS MATERIALIZED (
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
        ), calm AS (
          SELECT s.doc_id, s.split FROM st1 s
          WHERE s.doc_id NOT IN (SELECT doc_id FROM a_paired)
            AND ${hOf("snap", "s.doc_id")} >= 3
            AND ${hOf("snap2", "s.doc_id")} >= 2
            AND ${hOf("snap3", "s.doc_id")} >= 2
        ), pick AS MATERIALIZED (
          SELECT
            (SELECT MIN(doc_id) FROM calm WHERE split = 'train') AS aid,
            (SELECT MIN(doc_id) FROM calm WHERE split = 'test') AS bid,
            (SELECT d.text FROM documents d
             WHERE d.doc_id = (SELECT MIN(doc_id) FROM calm
                               WHERE split = 'train')) AS atext,
            (SELECT d.text FROM documents d
             WHERE d.doc_id = (SELECT MIN(doc_id) FROM calm
                               WHERE split = 'test')) AS btext
        ), v2src AS MATERIALIZED (
          SELECT b.doc_id,
                 CASE WHEN b.doc_id = p.bid THEN p.atext ELSE b.text END AS text
          FROM (
            SELECT doc_id,
                   CASE WHEN ${h("snap")} = 1 THEN text || ' rev2'
                        ELSE text END AS text
            FROM documents WHERE ${h("snap")} <> 0
            UNION ALL
            SELECT -doc_id - 1, text || ' new'
            FROM documents WHERE ${h("snap")} = 2) b
          CROSS JOIN pick p
        ), $v2Chain, v2_ver AS MATERIALIZED (
          SELECT id_a, id_b FROM v2_verified
        ), ${Round13Queries.ccCte("v2_ver", "v2_cc")}, mem2 AS MATERIALIZED (
          SELECT v.doc_id, COALESCE(v2_cc.component, v.doc_id) AS component
          FROM v2src v LEFT JOIN v2_cc ON v2_cc.doc_id = v.doc_id
        ), ${Round13Queries.versionedPolicyCte("mem2", "st1", "st2", 1)},
        v3src AS MATERIALIZED (
          SELECT v.doc_id,
                 CASE WHEN v.doc_id = p.bid THEN p.btext
                      WHEN ${h("snap2")} = 1 THEN v.text || ' rev3'
                      ELSE v.text END AS text
          FROM v2src v CROSS JOIN pick p WHERE ${h("snap2")} <> 0
        ), $v3Chain, v3_ver AS MATERIALIZED (
          SELECT id_a, id_b FROM v3_verified
        ), ${Round13Queries.ccCte("v3_ver", "v3_cc")}, mem3 AS MATERIALIZED (
          SELECT v.doc_id, COALESCE(v3_cc.component, v.doc_id) AS component
          FROM v3src v LEFT JOIN v3_cc ON v3_cc.doc_id = v.doc_id
        ), ${Round13Queries.versionedPolicyCte("mem3", "st2", "st3", 1)},
        v4src AS MATERIALIZED (
          SELECT v.doc_id,
                 CASE WHEN v.doc_id = p.bid THEN p.atext
                      WHEN ${h("snap3")} = 1 THEN v.text || ' rev4'
                      ELSE v.text END AS text
          FROM v3src v CROSS JOIN pick p WHERE ${h("snap3")} <> 0
        ), $v4Chain, v4_ver AS MATERIALIZED (
          SELECT id_a, id_b FROM v4_verified
        ), ${Round13Queries.ccCte("v4_ver", "v4_cc")}, mem4 AS MATERIALIZED (
          SELECT v.doc_id, COALESCE(v4_cc.component, v.doc_id) AS component
          FROM v4src v LEFT JOIN v4_cc ON v4_cc.doc_id = v.doc_id
        ), ${Round13Queries.versionedPolicyCte("mem4", "st3", "st4", 1)},
        flips AS (
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
            (SELECT CAST(COUNT(*) AS BIGINT) FROM st2) AS n_docs_v2,
            (SELECT CAST(COALESCE(SUM(quarantined), 0) AS BIGINT) FROM st3)
              AS n_q_v3,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM st3) AS n_docs_v3,
            (SELECT CAST(COALESCE(SUM(quarantined), 0) AS BIGINT) FROM st4)
              AS n_q_v4,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM st4) AS n_docs_v4
        ), retired AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_retired_v3
          FROM st2 a JOIN st3 b ON b.doc_id = a.doc_id
          WHERE a.quarantined = 1 AND b.quarantined = 0
        ), leaks AS (
          SELECT
            (SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                     AND sa.quarantined = 0 AND sb.quarantined = 0
                     THEN 1 ELSE 0 END), 0) AS BIGINT)
             FROM v2_ver v
             JOIN st2 sa ON sa.doc_id = v.id_a
             JOIN st2 sb ON sb.doc_id = v.id_b) AS n_leaky_v2,
            (SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                     AND sa.quarantined = 0 AND sb.quarantined = 0
                     THEN 1 ELSE 0 END), 0) AS BIGINT)
             FROM v3_ver v
             JOIN st3 sa ON sa.doc_id = v.id_a
             JOIN st3 sb ON sb.doc_id = v.id_b) AS n_leaky_v3,
            (SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                     AND sa.quarantined = 0 AND sb.quarantined = 0
                     THEN 1 ELSE 0 END), 0) AS BIGINT)
             FROM v4_ver v
             JOIN st4 sa ON sa.doc_id = v.id_a
             JOIN st4 sb ON sb.doc_id = v.id_b) AS n_leaky_v4
        ), listing AS (
          SELECT 'v2' AS phase, s.doc_id, s.split, s.quarantined, s.stable_for
          FROM st2 s CROSS JOIN pick p WHERE s.doc_id IN (p.aid, p.bid)
          UNION ALL
          SELECT 'v3', s.doc_id, s.split, s.quarantined, s.stable_for
          FROM st3 s CROSS JOIN pick p WHERE s.doc_id IN (p.aid, p.bid)
          UNION ALL
          SELECT 'v4', s.doc_id, s.split, s.quarantined, s.stable_for
          FROM st4 s CROSS JOIN pick p WHERE s.doc_id IN (p.aid, p.bid)
        )
        SELECT phase, doc_id, split, quarantined, stable_for,
               n_flipped_total, n_q_v2, n_docs_v2, n_q_v3, n_docs_v3,
               n_q_v4, n_docs_v4, n_retired_v3,
               n_leaky_v2, n_leaky_v3, n_leaky_v4
        FROM listing CROSS JOIN flips CROSS JOIN qshare
          CROSS JOIN retired CROSS JOIN leaks
        ORDER BY phase, doc_id
      """.trim
      }),

    // WALK-BUDGET FRONTIER — VERDICT_r13 next #7, the last recall miss
    // CLOSED and its ceiling pinned in one gate. The round-14 measurement:
    // on q527's dense graph, probe 321's last true neighbor (cosine 0.31
    // — an outlier query) is missed at beam 16 whatever the DEPTH (hops 8
    // reads the same 59/60 as hops 4 — so the graph reaches it and the
    // walk family is NOT capped), and found at beam 32 in the same 4 hops
    // (60/60). The miss is a BEAM-CUT ceiling: the path to a low-cosine
    // outlier region is pruned when every intermediate node scores below
    // the beam's 16th-best, and no amount of walking fixes a cut — only
    // width does. THIS gate pins all three operating points (16x4: 59/60,
    // 16x8: 59/60 — depth is not the dial, 32x4: 60/60 — width is), which
    // is both frontiers the judge asked for: 100% recall at a measured
    // extra cost (per-hop candidate work is queries x beam x degree, so
    // beam 32 = 2x hop cost for the last 1.7%), and the documented stop
    // for the beam-16 budget. 100 TB: every walk is probe-bounded
    // broadcast joins against the edge artifact; the knob changes the
    // bounded frontier size, never the corpus-side shape.
    Q(
      "q534_walk_budget_frontier",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        import s.implicits._
        // materialize: cross-action — the f4 collect, then the final plan's walks and truth
        val e = Tables.embeddings(s, dir).localCheckpoint()
        val edges = SharedFrames.denseNavEdges(s, dir)
        val probes = Similarity.hashOrderedProbes(e, "vec_id", "beam", 20)
        val entries = Similarity.hashOrderedProbes(
          e.select("vec_id"), "vec_id", "entry", 128)
        val brute = Similarity.topKCosine(probes, e, "vec_id", "embedding", 3)
          .select("query_id", "neighbor_id")
        def audit(tag: String, beam: Int, hops: Int,
            walk: DataFrame): DataFrame =
          brute.join(walk.select("query_id", "neighbor_id"),
              Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).as("n_hits"))
            .crossJoin(brute.agg(count(lit(1)).as("n_true")))
            .select(lit(tag).as("config"),
              lit(beam.toLong).as("beam"), lit(hops.toLong).as("hops"),
              col("n_hits"), col("n_true"),
              expr("n_hits * 1000000 DIV n_true").as("recall_micro"))
        // ONE beam-16 chain serves both depths: the 4-hop prefix runs
        // once at k = beam (its output IS the hop-4 frontier), the
        // captured frontier (probes x beam rows — the walk contract's
        // bound) reseeds the 5..8 continuation, and the 16x4 arm is the
        // frontier's own top-3 — 12 unrolled hops instead of 16, and
        // three shallow plans instead of one 16-deep one
        val f4 = Similarity.graphBeamSearch(e, edges, probes,
            "vec_id", "embedding", entries, hops = 4, beam = 16, k = 16)
          .select("query_id", "neighbor_id", "rank")
          .collect()
        val walkA4 = f4.filter(_.getAs[Int]("rank") <= 3)
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
          .toSeq.toDF("query_id", "neighbor_id")
        val frontier4 = f4
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
          .toSeq.toDF("query_id", "node")
        val walkA8 = Similarity.graphBeamSearchFrom(e, edges, probes,
          "vec_id", "embedding", frontier4, hops = 4, beam = 16, k = 3)
        val walkB4 = Similarity.graphBeamSearch(e, edges, probes,
          "vec_id", "embedding", entries, hops = 4, beam = 32, k = 3)
        audit("a_beam16_hops4", 16, 4, walkA4)
          .unionByName(audit("b_beam16_hops8", 16, 8, walkA8))
          .unionByName(audit("c_beam32_hops4", 32, 4, walkB4))
          .orderBy("config")
      },
      Some {
        val prelude = Round8Queries.beamWalkCteOverEntries(20, 0, 16,
          "WITH " + Round12Queries.navGraphCteOver("embeddings",
            k = 3, nForeign = 3), "nav",
          s"""SELECT vec_id AS node FROM embeddings
            ORDER BY ${TextHash.duckHash60(
              "'entry#' || CAST(vec_id AS VARCHAR)")}, vec_id
            LIMIT 128""")
        val chainA = (1 to 8).map(i =>
          Round8Queries.hopCte(if (i == 1) "f0" else s"a_f${i - 1}",
            s"a_f$i", 16)).mkString(", ")
        val chainB = (1 to 4).map(i =>
          Round8Queries.hopCte(if (i == 1) "f0" else s"b_f${i - 1}",
            s"b_f$i", 32)).mkString(", ")
        def walkTop3(rel: String, out: String) = s"""$out AS (
          SELECT query_id, node AS neighbor_id FROM (
            SELECT query_id, node,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, node) AS rn
            FROM $rel)
          WHERE rn <= 3
        )"""
        def armSql(tag: String, beam: Int, hops: Int, walk: String) = s"""
          SELECT '$tag' AS config, CAST($beam AS BIGINT) AS beam,
                 CAST($hops AS BIGINT) AS hops,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM brute b
                  JOIN $walk w ON w.query_id = b.query_id
                             AND w.neighbor_id = b.neighbor_id) AS n_hits,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM brute) AS n_true,
                 (SELECT CAST((SELECT COUNT(*) FROM brute bb
                    JOIN $walk ww ON ww.query_id = bb.query_id
                               AND ww.neighbor_id = bb.neighbor_id)
                    * 1000000 // COUNT(*) AS BIGINT) FROM brute)
                   AS recall_micro"""
        materialize(s"""
        $prelude$chainA, $chainB,
        ${walkTop3("a_f4", "walk_a4")}, ${walkTop3("a_f8", "walk_a8")},
        ${walkTop3("b_f4", "walk_b4")}, brute AS (
          SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.query_id
                     ORDER BY ${Round13Queries.duckDot("p.qv", "c.embedding")}
                       / (p.qn * c.nrm) DESC, c.vec_id) AS rn
            FROM bprobes p JOIN ben c ON c.vec_id <> p.query_id)
          WHERE rn <= 3
        )
        ${armSql("a_beam16_hops4", 16, 4, "walk_a4")}
        UNION ALL ${armSql("b_beam16_hops8", 16, 8, "walk_a8")}
        UNION ALL ${armSql("c_beam32_hops4", 32, 4, "walk_b4")}
        ORDER BY config
      """.trim,
          Seq("und", "ben", "bprobes", "entries", "f0", "nav") ++
            (1 to 8).flatMap(i => Seq(s"a_f$i", s"a_f${i}c")) ++
            (1 to 4).flatMap(i => Seq(s"b_f$i", s"b_f${i}c")))
      })
  )
}
